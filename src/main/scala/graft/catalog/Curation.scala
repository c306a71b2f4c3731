package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import Shared._

/** Curation and sampling: the end-to-end curation chains, splits,
  * mixing, caps, token budgets, distinct sketches, packing and shuffles. */
object Curation {
  val queries: Seq[Q] = Seq(
    // ---- CURATION CHAIN v2, oracle-verified END-TO-END: sub-document
    //      span dedup -> quality score on the deduped text -> top-80%
    //      per-source cut -> temperature-flattened mixing -> sequence
    //      packing. Every stage is an already-oracle-proven operator;
    //      this entry proves the COMPOSITION (the thing a user actually
    //      runs) against one DuckDB query assembled from the same
    //      recipes. Scale shape = the union of the stages' pinned
    //      shapes: hash-only winner election, shard-partitioned windows,
    //      broadcast allocations — nothing global, nothing collected.
    Q("q_curate_packed", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      val docs = T(s, dir, "documents")
      val dd = graft.pipeline.Dedup.dedupSpans(docs, "text", "doc_id", 10)
        .warpFilter(col("n_kept") > 0)
        .selectColumns(Seq("doc_id", "text_dedup"))
      val joined = dd.join(docs.selectColumns(Seq("doc_id", "source")), Seq("doc_id"))
      val scored = joined.calculate(Seq("score" -> ta.qualityScore(col("text_dedup"))))
      val cut = graft.pipeline.Sampling.keepTopFraction(scored, col("score"),
        col("source"), col("doc_id"), 0.8)
      val mixed = graft.pipeline.Sampling.temperatureSample(cut,
        col("source"), col("doc_id"), 0.5)
      graft.pipeline.Packing.packSequences(mixed,
          ta.tokenCountWsNonEmpty(col("text_dedup")), col("source"), col("doc_id"), 256)
        .selectColumns(Seq("doc_id", "source", "n_tokens", "pack_id", "pack_offset"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH words AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               w -> len(w) > 0) AS ws
           FROM documents
         ), sp AS (
           SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                  array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ') AS span
           FROM words, unnest(generate_series(1,
             CASE WHEN ws IS NULL OR len(ws) = 0 THEN 0
                  ELSE ((len(ws) - 1) // 10) + 1 END)) AS t(i)
         ), keep AS (
           SELECT doc_id, pos, span,
                  row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
           FROM sp
         ), agg AS (
           SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS td
           FROM keep WHERE rn = 1 GROUP BY doc_id
         ), dd AS (
           SELECT d.doc_id, d.source, a.td FROM documents d JOIN agg a USING (doc_id)
         ), sc AS (
           SELECT doc_id, source, td,
             least(CAST(length(td) AS DOUBLE) / 1000.0, 1.0) * 0.4 +
             least((CASE WHEN len(string_split_regex(trim(lower(td)), '[ \t\n\x0b\f\r]+')) > 0 THEN
               CAST(len(list_filter(string_split_regex(trim(lower(td)), '[ \t\n\x0b\f\r]+'),
                 t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
                 / len(string_split_regex(trim(lower(td)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END) * 5.0, 1.0) * 0.3 +
             greatest(0.0, 1.0 - (CASE WHEN length(td) > 0 THEN
               CAST(length(td) - length(regexp_replace(td, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / length(td) ELSE 0.0 END) * 5.0) * 0.3 AS score
           FROM dd
         ), cut AS (
           SELECT doc_id, source, td FROM (
             SELECT doc_id, source, td,
               percent_rank() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS kf
             FROM sc)
           WHERE kf <= 0.8
         ), n AS (
           SELECT source, count(*) AS n FROM cut GROUP BY source
         ), w AS (
           SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM n
         ), t2 AS (
           SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS wsum,
                  CAST(sum(n) AS BIGINT) AS ntot
           FROM w
         ), tg AS (
           SELECT source, floor(ntot * w / wsum) AS target FROM w, t2
         ), r AS (
           SELECT doc_id, source, td,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM cut
         ), mixed AS (
           SELECT r.doc_id, r.source, r.td FROM r JOIN tg USING (source)
           WHERE rn <= target
         ), toks AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(lower(td)), '[ \t\n\x0b\f\r]+'),
                   w -> len(w) > 0)) AS BIGINT)
               AS n_tokens
           FROM mixed
         ), strts AS (
           SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS strt
           FROM toks
         )
         SELECT doc_id, source, n_tokens,
                CAST(strt // 256 AS BIGINT) AS pack_id,
                CAST(strt % 256 AS BIGINT) AS pack_offset
         FROM strts ORDER BY doc_id""")),

    // ---- temperature-flattened source mixing (alpha = 0.5); a planted
    //      head domain (src0 grows 5x) gets trimmed, tail sources kept
    Q("q_temperature_mix", (s, dir) => {
      val base = T(s, dir, "documents").selectColumns(Seq("doc_id", "source"))
      val planted = T(s, dir, "documents").warpFilter(col("doc_id") < 100)
        .calculate(Seq("doc_id" -> (col("doc_id") + 400000),
          "source" -> lit("src0")))
        .selectColumns(Seq("doc_id", "source"))
      graft.pipeline.Sampling.temperatureSample(base.warpUnion(planted),
          col("source"), col("doc_id"), alpha = 0.5)
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH base AS (
           SELECT doc_id, source FROM documents
           UNION ALL
           SELECT doc_id + 400000, 'src0' FROM documents WHERE doc_id < 100
         ), n AS (
           SELECT source, count(*) AS n FROM base GROUP BY source
         ), w AS (
           SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM n
         ), t AS (
           SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS wsum,
                  CAST(sum(n) AS BIGINT) AS ntot
           FROM w
         ), tg AS (
           SELECT source, floor(ntot * w / wsum) AS target FROM w, t
         ), r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM base
         )
         SELECT r.doc_id, r.source FROM r JOIN tg USING (source)
         WHERE rn <= target ORDER BY doc_id""")),

    // ---- hard per-source cap (at most n docs per domain): skewed corpus
    //      (src0 planted to 4x the others), two-phase salted path — the
    //      production shape for mega-domains; result provably identical to
    //      the plain window the oracle computes
    Q("q_source_cap", (s, dir) => {
      val docs = T(s, dir, "documents").selectColumns(Seq("doc_id", "source"))
      val planted = T(s, dir, "documents").warpFilter(col("doc_id") % 10 < 3)
        .calculate(Seq("doc_id" -> (col("doc_id") + 500000),
          "source" -> lit("src0")))
        .selectColumns(Seq("doc_id", "source"))
      graft.pipeline.Sampling.capPerGroup(docs.warpUnion(planted),
          col("source"), col("doc_id"), n = 15, presaltParts = 4)
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH base AS (
           SELECT doc_id, source FROM documents
           UNION ALL
           SELECT doc_id + 500000, 'src0' FROM documents WHERE doc_id % 10 < 3
         ), r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM base
         )
         SELECT doc_id, source FROM r WHERE rn <= 15 ORDER BY doc_id""")),

    // ---- mergeable per-source distinct sketches -> one merged estimate
    //      (incremental distinct counting; binary sketches, so rows-only —
    //      merge-equals-one-pass and accuracy pinned in WarpOpsSpec)
    Q("q_distinct_sketch", (s, dir) => {
      val sk = graft.ops.WarpOps.distinctSketchByShard(
        T(s, dir, "documents"), col("source"), col("text"))
      graft.ops.WarpOps.mergeDistinctSketches(sk)
    },
      NoOracle("binary DataSketches HLL sketches; hash-exact estimator twin q_distinct_hll_md5")),

    // ---- md5-tier HLL gauge: the DataSketches path above is binary and
    //      rows-only, so this twin replays the FULL register/estimator
    //      pipeline (md5 buckets, leading-zero rho, integer-scaled
    //      register sum, linear-counting correction) hash-exactly in
    //      DuckDB — the determinate quality gate for the distinct-sketch
    //      shape, with the exact count and relative error alongside
    Q("q_distinct_hll_md5", (s, dir) =>
      graft.ops.WarpOps.hllMd5Report(T(s, dir, "documents"), col("text")),
      // full HLL replay at p=4 (m=16, alpha=0.673): md5 bucket + rho, max
      // registers, integer-scaled register sum, linear-counting branch
      Sql("""WITH v AS (
           SELECT CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 1)) AS BIGINT) AS b,
                  CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 2, 13)) AS BIGINT) AS w
           FROM documents WHERE text IS NOT NULL
         ), r AS (
           SELECT b, max(CASE WHEN w = 0 THEN 53
                              ELSE 53 - length(bin(w)) END) AS M
           FROM v GROUP BY b
         ), st AS (
           SELECT CAST(count(*) AS BIGINT) AS used, coalesce(max(M), 0) AS mx
           FROM r
         ), s1 AS (
           SELECT coalesce(CAST(sum(CAST(pow(2.0, st.mx - r.M) AS BIGINT)) AS BIGINT), 0) AS S,
                  coalesce(any_value(st.used), 0) AS used,
                  coalesce(any_value(st.mx), 0) AS mx
           FROM r, st
         ), ex AS (
           SELECT CAST(count(DISTINCT text) AS BIGINT) AS n_exact
           FROM documents WHERE text IS NOT NULL
         ), e AS (
           SELECT s1.used, 16 - s1.used AS zeros, ex.n_exact,
             0.673 * 16 * 16 * pow(2.0, s1.mx)
               / (CAST(s1.S AS DOUBLE) + CAST(16 - s1.used AS DOUBLE) * pow(2.0, s1.mx)) AS eraw
           FROM s1, ex
         )
         SELECT 16 AS m, used AS used_registers, zeros,
           round(CASE WHEN eraw <= 40.0 AND zeros > 0
                      THEN 16.0 * ln(16.0 / zeros) ELSE eraw END, 6) AS estimate,
           n_exact,
           CASE WHEN n_exact > 0 THEN
             round(abs((CASE WHEN eraw <= 40.0 AND zeros > 0
                             THEN 16.0 * ln(16.0 / zeros) ELSE eraw END) - n_exact)
               / n_exact, 6) END AS rel_error
         FROM e""")),

    // ---- per-group md5-tier HLL: distinct texts per source — the
    //      realistic sketch shape (distinct per domain/tenant), same
    //      exact-integer register estimator, one row per source
    Q("q_distinct_hll_groups", (s, dir) =>
      graft.ops.WarpOps.hllMd5ReportByGroup(
          T(s, dir, "documents"), col("source"), col("text"))
        .withColumnRenamed("grp", "source")
        .orderBy("source"),
      // per-group HLL replay at p=4: the q_distinct_hll_md5 estimator with
      // every stage threaded through GROUP BY source
      Sql("""WITH v AS (
           SELECT source,
                  CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 1)) AS BIGINT) AS b,
                  CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 2, 13)) AS BIGINT) AS w
           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
         ), r AS (
           SELECT source, b, max(CASE WHEN w = 0 THEN 53
                                      ELSE 53 - length(bin(w)) END) AS M
           FROM v GROUP BY source, b
         ), st AS (
           SELECT source, CAST(count(*) AS BIGINT) AS used, max(M) AS mx
           FROM r GROUP BY source
         ), s1 AS (
           SELECT r.source,
                  CAST(sum(CAST(pow(2.0, st.mx - r.M) AS BIGINT)) AS BIGINT) AS S,
                  any_value(st.used) AS used, any_value(st.mx) AS mx
           FROM r JOIN st USING (source) GROUP BY r.source
         ), ex AS (
           SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_exact
           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
           GROUP BY source
         ), e AS (
           SELECT s1.source, s1.used, 16 - s1.used AS zeros, ex.n_exact,
             0.673 * 16 * 16 * pow(2.0, s1.mx)
               / (CAST(s1.S AS DOUBLE) + CAST(16 - s1.used AS DOUBLE) * pow(2.0, s1.mx)) AS eraw
           FROM s1 JOIN ex USING (source)
         )
         SELECT source, 16 AS m, used AS used_registers, zeros,
           round(CASE WHEN eraw <= 40.0 AND zeros > 0
                      THEN 16.0 * ln(16.0 / zeros) ELSE eraw END, 6) AS estimate,
           n_exact,
           CASE WHEN n_exact > 0 THEN
             round(abs((CASE WHEN eraw <= 40.0 AND zeros > 0
                             THEN 16.0 * ln(16.0 / zeros) ELSE eraw END) - n_exact)
               / n_exact, 6) END AS rel_error
         FROM e ORDER BY source""")),

    // ---- HLL set algebra between sources: per-bucket register max IS
    //      the union sketch (no rescan); inclusion-exclusion over the
    //      published estimates probes cross-source duplication at sketch
    //      cost. Exact union/intersection companions at gauge scale.
    //      Bounded to 5 sources (10 pairs) to keep the report readable
    Q("q_hll_algebra", (s, dir) => {
      val docs = T(s, dir, "documents")
        .warpFilter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      graft.ops.WarpOps.hllMd5SetAlgebra(docs, col("source"), col("text"))
        .orderBy("grp_a", "grp_b")
    }, Sql("""WITH d AS (
           SELECT source, text FROM documents
           WHERE text IS NOT NULL
             AND source IN ('src0','src1','src2','src3','src4')
         ), v AS (
           SELECT source,
             CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 1)) AS BIGINT) AS b,
             CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 2, 13)) AS BIGINT) AS w
           FROM d
         ), r AS (
           SELECT source, b, max(CASE WHEN w = 0 THEN 53
                                      ELSE 53 - length(bin(w)) END) AS M
           FROM v GROUP BY source, b
         ), st AS (
           SELECT source, CAST(count(*) AS BIGINT) AS used, max(M) AS mx
           FROM r GROUP BY source
         ), s1 AS (
           SELECT r.source,
             CAST(sum(CAST(pow(2.0, st.mx - r.M) AS BIGINT)) AS BIGINT) AS S,
             any_value(st.used) AS used, any_value(st.mx) AS mx
           FROM r JOIN st USING (source) GROUP BY r.source
         ), ex AS (
           SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_exact
           FROM d GROUP BY source
         ), pe AS (
           SELECT s1.source, ex.n_exact,
             round(CASE WHEN (0.673 * 16 * 16 * pow(2.0, s1.mx)
                     / (CAST(s1.S AS DOUBLE)
                        + CAST(16 - s1.used AS DOUBLE) * pow(2.0, s1.mx)))
                       <= 40.0 AND 16 - s1.used > 0
                   THEN 16.0 * ln(16.0 / (16 - s1.used))
                   ELSE 0.673 * 16 * 16 * pow(2.0, s1.mx)
                     / (CAST(s1.S AS DOUBLE)
                        + CAST(16 - s1.used AS DOUBLE) * pow(2.0, s1.mx)) END,
               6) AS est
           FROM s1 JOIN ex USING (source)
         ), pairs AS (
           SELECT a.source AS ga, b.source AS gb
           FROM pe a JOIN pe b ON a.source < b.source
         ), ur AS (
           SELECT p.ga, p.gb, r.b, max(r.M) AS M
           FROM pairs p JOIN r ON r.source = p.ga OR r.source = p.gb
           GROUP BY 1, 2, 3
         ), ust AS (
           SELECT ga, gb, CAST(count(*) AS BIGINT) AS used, max(M) AS mx
           FROM ur GROUP BY 1, 2
         ), us1 AS (
           SELECT ur.ga, ur.gb,
             CAST(sum(CAST(pow(2.0, ust.mx - ur.M) AS BIGINT)) AS BIGINT) AS S,
             any_value(ust.used) AS used, any_value(ust.mx) AS mx
           FROM ur JOIN ust ON ur.ga = ust.ga AND ur.gb = ust.gb
           GROUP BY ur.ga, ur.gb
         ), uest AS (
           SELECT ga, gb,
             round(CASE WHEN (0.673 * 16 * 16 * pow(2.0, mx)
                     / (CAST(S AS DOUBLE)
                        + CAST(16 - used AS DOUBLE) * pow(2.0, mx)))
                       <= 40.0 AND 16 - used > 0
                   THEN 16.0 * ln(16.0 / (16 - used))
                   ELSE 0.673 * 16 * 16 * pow(2.0, mx)
                     / (CAST(S AS DOUBLE)
                        + CAST(16 - used AS DOUBLE) * pow(2.0, mx)) END,
               6) AS est_union
           FROM us1
         ), uex AS (
           SELECT p.ga, p.gb, CAST(count(DISTINCT d.text) AS BIGINT) AS n_union
           FROM pairs p JOIN d ON d.source = p.ga OR d.source = p.gb
           GROUP BY 1, 2
         )
         SELECT p.ga AS grp_a, p.gb AS grp_b,
           pa.est AS est_a, pb.est AS est_b, u.est_union,
           round(pa.est + pb.est - u.est_union, 6) AS est_inter,
           x.n_union,
           pa.n_exact + pb.n_exact - x.n_union AS n_inter
         FROM pairs p
           JOIN pe pa ON pa.source = p.ga
           JOIN pe pb ON pb.source = p.gb
           JOIN uest u ON u.ga = p.ga AND u.gb = p.gb
           JOIN uex x ON x.ga = p.ga AND x.gb = p.gb
         ORDER BY 1, 2""")),

    // ---- global token-budget selection: md5-rank order, distributed
    //      prefix-sum (bucketed by rank prefix; the only global window
    //      runs over the <=256-row bucket-total aggregate)
    Q("q_token_budget", (s, dir) => {
      val docs = T(s, dir, "documents").calculate(Seq(
        "n_tokens" -> graft.pipeline.TextAnalysis.tokenCountWsNonEmpty(col("text")).cast("long")))
      graft.pipeline.Sampling.takeTokenBudget(docs, col("doc_id"),
          col("n_tokens"), budget = 15000L)
        .selectColumns(Seq("doc_id", "source", "n_tokens", "cum_tokens"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH t AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                   w -> len(w) > 0)) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS pr
           FROM documents
         ), c AS (
           SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (ORDER BY pr, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
           FROM t
         )
         SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""")),

    // ---- size-balanced shard layout + manifest: deterministic token-boundary
    //      shard assignment (same distributed prefix-sum as q_token_budget)
    //      and an order-free per-shard checksum manifest
    Q("q_shard_manifest", (s, dir) => {
      val Sa = graft.pipeline.Sampling
      // total token count (NULL text = 0): a shard manifest must cover
      // every doc — a NULL weight would orphan the doc from all shards
      val docs = T(s, dir, "documents").calculate(Seq(
        "n_tokens" -> coalesce(
          graft.pipeline.TextAnalysis.tokenCountWsNonEmpty(col("text")).cast("long"),
          lit(0L))))
      val assigned = Sa.assignShards(docs, col("doc_id"), col("n_tokens"),
        tokensPerShard = 2000L)
      Sa.shardManifest(assigned, col("doc_id"), col("n_tokens"), col("shard_id"))
        .orderBy("shard_id")
    }, Sql("""WITH t AS (
           SELECT doc_id,
             coalesce(CAST(len(list_filter(
                 string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                 w -> len(w) > 0)) AS BIGINT), 0)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS pr
           FROM documents
         ), c AS (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY pr, doc_id ROWS UNBOUNDED PRECEDING)
               - n_tokens AS excum
           FROM t
         )
         SELECT CAST(floor(CAST(excum AS DOUBLE) / 2000) AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS token_total,
           CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT))
             AS BIGINT) AS id_checksum
         FROM c GROUP BY 1 ORDER BY shard_id""")),

    // ---- domain-balanced quality filter: top 80% per source by score
    Q("q_quality_topfrac", (s, dir) => {
      val scored = T(s, dir, "documents")
        .calculate(Seq("score" -> graft.pipeline.TextAnalysis.qualityScore(col("text"))))
      graft.pipeline.Sampling.keepTopFraction(scored, col("score"),
          col("source"), col("doc_id"), 0.8)
        .selectColumns(Seq("doc_id", "source", "score", "keep_frac"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH c AS (
           SELECT doc_id, source,
             least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) AS len_score,
             CASE WHEN len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) > 0 THEN
               CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                 t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
                 / len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END AS sw,
             CASE WHEN length(text) > 0 THEN
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / length(text) ELSE 0.0 END AS punct
           FROM documents
         ), sc AS (
           SELECT doc_id, source,
             least(len_score, 1.0) * 0.4 + least(sw * 5.0, 1.0) * 0.3 +
             greatest(0.0, 1.0 - punct * 5.0) * 0.3 AS score
           FROM c
         ), r AS (
           SELECT doc_id, source, score,
             percent_rank() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
               AS keep_frac
           FROM sc
         )
         SELECT doc_id, source, score, keep_frac FROM r
         WHERE keep_frac <= 0.8 ORDER BY doc_id""")),

    // ---- deterministic weighted sampling (Efraimidis-Spirakis priority
    //      keys from md5 — reproducible on any engine, no rand())
    Q("q_weighted_sample", (s, dir) => {
      graft.pipeline.Sampling.weightedSample(
        T(s, dir, "documents").selectColumns(Seq("doc_id", "source", "n_chars")),
        col("doc_id"), col("n_chars"), n = 100)
        .orderBy("doc_id")
    }, Sql("""SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 + 1.0) / 4294967297.0) / n_chars AS pri
           FROM documents WHERE n_chars > 0
           ORDER BY pri DESC, doc_id LIMIT 100)
         ORDER BY doc_id""")),

    // ---- concat-and-chunk sequence packing (per-source token streams)
    Q("q_pack_sequences", (s, dir) => {
      graft.pipeline.Packing.packSequences(T(s, dir, "documents"),
          graft.pipeline.TextAnalysis.tokenCountWsNonEmpty(col("text")),
          col("source"), col("doc_id"), budget = 256)
        .selectColumns(Seq("doc_id", "source", "n_tokens", "pack_id", "pack_offset"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH c AS (
           SELECT doc_id, source,
                  CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                   w -> len(w) > 0)) AS BIGINT)
                    AS n_tokens
           FROM documents
         ), s AS (
           SELECT doc_id, source, n_tokens,
                  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS strt
           FROM c
         )
         SELECT doc_id, source, n_tokens,
                CAST(strt // 256 AS BIGINT) AS pack_id,
                CAST(strt % 256 AS BIGINT) AS pack_offset
         FROM s ORDER BY doc_id""")),

    // ---- DoReMi-style mixture reweighting: per-source sampling weights
    //      move multiplicatively by exp(-eta * fertility excess) from the
    //      doc-share baseline — expensive (high tokens-per-word) slices
    //      downweighted in one deterministic step; integer-published
    //      arithmetic end-to-end
    Q("q_mixture_reweight", (s, dir) => {
      // r14: migrated off the pre-r12 legacyDouble construct (VERDICT r13
      // item 5) — ONE fertility construct (caseless kernel counts +
      // integer-derived 9-decimal ratio) serves every consumer. r15: the
      // REPORT presentation moved to DOUBLE (every scale-9 DECIMAL output
      // is driver-hash red — see TextAnalysis.ratioDouble9), but the cost
      // signal handed to mixtureReweight stays the exact DECIMAL(18,9) so
      // its __c9 re-publish remains a lossless decimal multiply and exp()
      // sees bit-identical doubles on both engines, exactly as before.
      val fert = graft.pipeline.TextAnalysis.fertilityReport(
          T(s, dir, "documents"), Seq("source"), "text")
        .withColumn("fertility", graft.pipeline.TextAnalysis.ratioDecimal9(
          col("bpe_tokens"), col("ws_tokens")))
      graft.pipeline.Sampling.mixtureReweight(
          fert.select(col("source"), col("docs"), col("fertility")),
          col("docs"), col("fertility"), eta = -1.0)
        .selectColumns(Seq("source", "docs", "excess", "factor", "weight"))
        .warpSort(Seq(Order(col("source"), numeric = false)))
    }, Sql(s"""WITH $charClassCteNoLower,
         f AS (
           SELECT source, count(*) AS docs,
             CAST(sum(ws) AS BIGINT) AS ws_tokens,
             CAST(sum(bpe) AS BIGINT) AS bpe_tokens
           FROM cnt GROUP BY source
         ), b AS (
           SELECT source, docs,
             CAST(CASE WHEN ws_tokens > 0
               THEN (CAST(bpe_tokens AS HUGEINT) * 2000000000 + ws_tokens)
                    // (CAST(ws_tokens AS HUGEINT) * 2)
               ELSE 0 END AS BIGINT) AS c9
           FROM f
         ), t AS (
           SELECT CAST(sum(docs) AS BIGINT) AS t_docs,
                  CAST(sum(docs * c9) AS BIGINT) AS snum FROM b
         ), wf AS (
           SELECT b.source, b.docs,
             CAST(b.c9 * 1000 -
               ((t.snum * 1000 + t.t_docs // 2) // t.t_docs) AS DOUBLE) / 1e12 AS excess,
             (CAST(b.docs AS DOUBLE) / t.t_docs) *
               exp(-1.0 * (CAST(b.c9 * 1000 -
                 ((t.snum * 1000 + t.t_docs // 2) // t.t_docs) AS DOUBLE) / 1e12)) AS factor
           FROM b, t
         ), z AS (SELECT sum(CAST(factor AS DECIMAL(28,15))) AS z FROM wf)
         SELECT wf.source, wf.docs, excess,
           round(factor, 12) AS factor,
           CAST(round(CAST(factor AS DECIMAL(28,15)) / z.z, 9) AS DOUBLE) AS weight
         FROM wf, z ORDER BY source""")),

    // ---- padding-waste report: arrival-order vs length-sorted batching
    //      (batch ids from DISTRIBUTED row numbers — rankDistributed,
    //      no single-partition window anywhere)
    Q("q_pad_waste", (s, dir) => {
      graft.pipeline.Packing.padWasteReport(
          T(s, dir, "documents"), col("doc_id"),
          graft.pipeline.TextAnalysis.tokenCountWsCaseless(col("text")),
          batchSize = 8)
        .warpSort(Seq(Order(col("strategy"), numeric = false)))
    }, Sql(s"""WITH $charClassCteNoLower,
         toks AS (
           SELECT CAST(doc_id AS BIGINT) AS id,
             coalesce(ws, 0) AS toks
           FROM cnt WHERE doc_id IS NOT NULL
         ), arr AS (
           SELECT 'arrival' AS strategy,
             (row_number() OVER (ORDER BY id) - 1) // 8 AS batch, toks FROM toks
           UNION ALL
           SELECT 'sorted',
             (row_number() OVER (ORDER BY toks, id) - 1) // 8, toks FROM toks
         ), per AS (
           SELECT strategy, batch, count(*) AS n, max(toks) AS mx, sum(toks) AS tk
           FROM arr GROUP BY strategy, batch
         ), fin AS (
           SELECT strategy,
             CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_batches,
             CAST(sum(tk) AS BIGINT) AS token_sum,
             CAST(sum(n * mx) AS BIGINT) AS padded_cells
           FROM per GROUP BY strategy
         )
         SELECT strategy, n_docs, n_batches, token_sum, padded_cells,
           ${dbl9Sql("padded_cells - token_sum", "padded_cells")} AS waste_ratio
         FROM fin ORDER BY strategy""")),

    // ---- exact-k uniform per-source sample (eval-set carving): md5
    //      priority per id, per-group top-k, deterministic and
    //      engine-replayable
    Q("q_sample_k_group", (s, dir) => {
      graft.pipeline.Sampling.sampleKPerGroup(
          T(s, dir, "documents"), col("doc_id"), col("source"), k = 20)
        .selectColumns(Seq("doc_id", "source", "lang"))
        .warpSort(Seq(Order(col("source"), numeric = false), Order(col("doc_id"))))
    }, Sql("""SELECT doc_id, source, lang FROM (
           SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents WHERE doc_id IS NOT NULL)
         WHERE rn <= 20
         ORDER BY source, doc_id""")),

    // ---- END-TO-END CURATION PIPELINE: the engine's flagship composite —
    //      quality-score + language-ID (map-only, one pass), filter, exact
    //      near-dup removal on the normalized-content fingerprint (ONE
    //      shuffle, keyed on the 16-byte md5 — never the text), then the
    //      deterministic md5-bucket train/val/test split (map-only,
    //      rand()-free). At 100 TB this plan is: scan -> project ->
    //      filter -> one hash shuffle -> project, with every text column
    //      dropped before the shuffle.
    Q("q_curate", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      val scored = T(s, dir, "documents")
        .calculate(Seq(
          "score" -> ta.qualityScore(col("text")),
          "detected" -> ta.langId(col("text"), Seq("en", "de", "es")),
          "fp" -> ta.fingerprintMd5(col("text"))))
        .warpFilter(col("score") >= 0.5 && col("detected") === "en")
        .selectColumns(Seq("doc_id", "score", "fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val deduped = scored.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn", "fp")
      graft.pipeline.Sampling.splitByHash(deduped, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .selectColumns(Seq("doc_id", "score", "split"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH toks AS (
           SELECT doc_id, text, string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS tks
           FROM documents
         ), feat AS (
           SELECT doc_id, text,
             least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) AS len_score,
             CASE WHEN len(tks) > 0 THEN CAST(len(list_filter(tks,
               t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE) / len(tks)
               ELSE 0.0 END AS s_en,
             CASE WHEN len(tks) > 0 THEN CAST(len(list_filter(tks,
               t -> t IN ('der','die','das','und','ist','von','mit','ein','nicht','zu'))) AS DOUBLE) / len(tks)
               ELSE 0.0 END AS s_de,
             CASE WHEN len(tks) > 0 THEN CAST(len(list_filter(tks,
               t -> t IN ('el','la','los','y','es','de','un','una','que','no'))) AS DOUBLE) / len(tks)
               ELSE 0.0 END AS s_es,
             CASE WHEN length(text) > 0 THEN
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / length(text) ELSE 0.0 END AS punct
           FROM toks
         ), scored AS (
           SELECT doc_id, text,
             least(len_score, 1.0) * 0.4 + least(s_en * 5.0, 1.0) * 0.3 +
               greatest(0.0, 1.0 - punct * 5.0) * 0.3 AS score,
             CASE WHEN greatest(s_en, s_de, s_es) < 0.02 THEN 'und'
                  WHEN s_es = greatest(s_en, s_de, s_es) THEN 'es'
                  WHEN s_en = greatest(s_en, s_de, s_es) THEN 'en'
                  ELSE 'de' END AS detected
           FROM feat
         ), dedup AS (
           SELECT doc_id, score, row_number() OVER (
               PARTITION BY md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g'))
               ORDER BY doc_id) AS rn
           FROM scored WHERE score >= 0.5 AND detected = 'en'
         )
         SELECT doc_id, score,
           CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
         FROM dedup WHERE rn = 1 ORDER BY doc_id""")),

    // ---- deterministic train/val/test split: md5-bucket assignment, the
    //      same row lands in the same split on every engine and every run
    Q("q_split", (s, dir) => {
      graft.pipeline.Sampling.splitByHash(T(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .selectColumns(Seq("doc_id", "lang", "split"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""SELECT doc_id, lang,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""")),

    // ---- leakage-proof split: whole duplicate CLUSTERS go to one split,
    //      so a near-dup of a training doc can never leak into val/test;
    //      unclustered rows fall back to plain id-hash splitting
    Q("q_split_cluster", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.pipeline.Sampling.splitByCluster(docs, "doc_id", chainEdges(docs),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .selectColumns(Seq("doc_id", "lang", "split"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH RECURSIVE e AS (
           SELECT d.doc_id AS a, d.doc_id + 1 AS b FROM documents d
           WHERE d.doc_id % 10 < 9
             AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id + 1)
         ), und AS (
           SELECT a, b FROM e UNION SELECT b, a FROM e
         ), reach(id, lab) AS (
           SELECT DISTINCT a, a FROM und
           UNION
           SELECT u.a, r.lab FROM und u JOIN reach r ON r.id = u.b
         ), cc AS (
           SELECT id, min(lab) AS cluster FROM reach GROUP BY id
         ), j AS (
           SELECT d.doc_id, d.lang, coalesce(cc.cluster, d.doc_id) AS rep
           FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
         )
         SELECT doc_id, lang,
           CASE WHEN CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 8000 THEN 'train'
                WHEN CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
         FROM j ORDER BY doc_id""")),

    // ---- deterministic stratified sampling: per-stratum hash-threshold
    //      keep fractions (NOT rand() — re-runs agree row-for-row)
    Q("q_stratified", (s, dir) => {
      graft.pipeline.Sampling.stratifiedSample(T(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.2))
        .selectColumns(Seq("doc_id", "lang"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""SELECT doc_id, lang FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 <
           CASE WHEN lang = 'de' THEN 2000 WHEN lang = 'en' THEN 5000 ELSE 0 END
         ORDER BY doc_id""")),

    // ---- certainty-driven sample sizing (the engine form of the
    //      reference's adaptive interactive sampling,
    //      QBECalculator.swift:55-167): md5-threshold pilot -> standard
    //      sample-size formula -> md5-threshold sample; every step (driver
    //      arithmetic included) replays in the DuckDB oracle
    Q("q_adaptive_sample", (s, dir) => {
      graft.pipeline.Sampling.adaptiveSample(
        T(s, dir, "documents")
          .withColumn("len", length(col("text")).cast("double")),
        "doc_id", "len", relErr = 0.05, z = 1.96, pilotN = 200L)
    }, Sql("""WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
         b AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS x,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
           FROM documents),
         cp AS (SELECT CAST(floor(least(1.0, 200.0 / CAST(total AS DOUBLE))
             * 4294967296.0) AS BIGINT) AS cut, total FROM t),
         p AS (SELECT count(x) AS n,
             CAST(CAST(sum(CAST(x AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS s,
             CAST(CAST(sum(CAST(x*x AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS sq
           FROM b, cp WHERE u < cut),
         d AS (SELECT cp.total, p.n AS pilot_n,
             p.s / CAST(p.n AS DOUBLE) AS mean_p,
             sqrt(greatest((p.sq - p.s * p.s / CAST(p.n AS DOUBLE))
               / (CAST(p.n AS DOUBLE) - 1.0), 0.0)) AS sd_p
           FROM p, cp),
         r AS (SELECT *,
             CASE WHEN mean_p = 0.0 THEN total ELSE
               greatest(pilot_n, least(total,
                 CAST(ceil(((1.96 * sd_p) / (0.05 * abs(mean_p)))
                   * ((1.96 * sd_p) / (0.05 * abs(mean_p)))) AS BIGINT))) END
               AS required_n
           FROM d),
         cs AS (SELECT r.*, CAST(floor(least(1.0,
             CAST(required_n AS DOUBLE) / CAST(total AS DOUBLE))
             * 4294967296.0) AS BIGINT) AS cut2 FROM r),
         smp AS (SELECT count(x) AS sample_n,
             CAST(CAST(sum(CAST(x AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS ss
           FROM b, cs WHERE u < cut2)
       SELECT cs.total, cs.pilot_n, round(cs.mean_p, 9) AS pilot_mean,
         round(cs.sd_p, 9) AS pilot_sd, cs.required_n, smp.sample_n,
         round(CASE WHEN smp.sample_n = 0 THEN 0.0
           ELSE smp.ss / CAST(smp.sample_n AS DOUBLE) END, 9) AS sample_mean
       FROM cs, smp""")),

    // ---- RLHF/DPO preference-pair construction: per (source, lang)
    //      prompt group, top-3 by score pair as "chosen" against
    //      bottom-3 as "rejected" with a minimum margin — k²-capped per
    //      group (never quadratic in group size), deterministic
    //      tie-breaks, WindowGroupLimit top-k heaps underneath
    Q("q_pref_pairs", (s, dir) => {
      graft.pipeline.Preference.preferencePairs(T(s, dir, "documents"),
        Seq("source" -> col("source"), "lang" -> col("lang")),
        col("doc_id"), col("n_chars"), k = 3, margin = 50L)
        .orderBy("source", "lang", "chosen_id", "rejected_id")
    }, Sql("""WITH top AS (
           SELECT source, lang, doc_id AS chosen_id, n_chars AS chosen_score,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM documents
         ), bot AS (
           SELECT source, lang, doc_id AS rejected_id,
             n_chars AS rejected_score,
             row_number() OVER (PARTITION BY source, lang
               ORDER BY n_chars ASC, doc_id ASC) AS rn
           FROM documents
         )
         SELECT t.source, t.lang, chosen_id, chosen_score,
           rejected_id, rejected_score,
           chosen_score - rejected_score AS margin
         FROM top t JOIN bot b ON t.source = b.source AND t.lang = b.lang
         WHERE t.rn <= 3 AND b.rn <= 3
           AND chosen_id <> rejected_id
           AND chosen_score - rejected_score >= 50
         ORDER BY 1, 2, 3, 5""")),

    // ---- deterministic multi-epoch training-order shuffle, SHARD-local
    //      positions (no global window — the 100 TB layout): md5-keyed,
    //      rand()-free, fully replayable by the oracle
    Q("q_epoch_shuffle", (s, dir) => {
      graft.pipeline.Sampling.epochShuffle(
          T(s, dir, "documents"), "doc_id", epochs = 3, shards = 8)
        .orderBy("epoch", "shard", "pos")
    }, Sql("""WITH e AS (SELECT unnest([0, 1, 2]) AS epoch),
         x AS (
           SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
           FROM e CROSS JOIN documents d
         ),
         s AS (
           SELECT epoch, doc_id, h,
             CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % 8 AS shard
           FROM x
         )
         SELECT epoch, shard,
           CAST(row_number() OVER (PARTITION BY epoch, shard
             ORDER BY h, doc_id) AS INT) AS pos,
           doc_id
         FROM s ORDER BY epoch, shard, pos""")),

    // ---- Count-Min sketch point estimates vs exact counts: md5-salted
    //      row hashes, depth×width bounded counter table, min-over-rows
    //      estimate (always >= exact); the overestimate column IS the
    //      CMS error surface, hash-replayable end to end
    Q("q_sketch_cms", (s, dir) => {
      val ev = T(s, dir, "events")
      val counters = graft.pipeline.HeavyHitters.cmsCounters(
        ev, col("event_type"), depth = 4, width = 32)
      val est = graft.pipeline.HeavyHitters.cmsEstimate(
        counters, ev, col("event_type"), depth = 4, width = 32)
      val exact = ev.filter(col("event_type").isNotNull)
        .groupBy(col("event_type").cast("string").as("item"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("item"))
        .withColumn("overcount", col("est") - col("exact"))
        .orderBy("item")
    }, Sql("""WITH it AS (
           SELECT CAST(event_type AS VARCHAR) AS item FROM events
           WHERE event_type IS NOT NULL
         ),
         r AS (SELECT unnest([0, 1, 2, 3]) AS r),
         cnt AS (
           SELECT r.r,
             CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || it.item), 1, 8))
               AS BIGINT) % 32 AS b,
             count(*) AS cnt
           FROM it CROSS JOIN r GROUP BY 1, 2
         ),
         q AS (SELECT DISTINCT item FROM it),
         est AS (
           SELECT q.item, min(coalesce(c.cnt, 0)) AS est
           FROM q CROSS JOIN r
           LEFT JOIN cnt c ON c.r = r.r AND c.b =
             CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || q.item), 1, 8))
               AS BIGINT) % 32
           GROUP BY q.item
         ),
         ex AS (SELECT item, count(*) AS exact FROM it GROUP BY item)
         SELECT est.item, est.est, ex.exact, est.est - ex.exact AS overcount
         FROM est JOIN ex USING (item) ORDER BY item"""))
  )
}
