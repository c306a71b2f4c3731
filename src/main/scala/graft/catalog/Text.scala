package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import graft.functions.WarpAggregates.davg
import Shared._

/** Text analysis: quality, language, repetition and PII signals, n-gram
  * LMs, BPE training and encoding, the trained quality classifier and
  * corpus token statistics. */
object Text {
  /** Trained-merge-list fixture for q_bpe_segment: in a deployment the
    * merge list ships WITH the tokenizer (it is the trained artifact);
    * deriving it per probe invocation would charge segmentation the whole
    * training run. A session fixture; 8 merges keeps the chained fold
    * inside codegen limits (Bpe.segment's scaladoc: long merge lists
    * belong in a native kernel). */
  private def bpeMergeFixture(s: SparkSession, dir: String): Seq[(String, String)] =
    fixture(s, dir, "documents", "bpe_merges")(
      graft.pipeline.Bpe.trainMerges(T(s, dir, "documents"), "text", numMerges = 8)
        .orderBy("rank").collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq)

  /** Vocabulary fixture for q_bpe_encode — ships with the merges as the
    * tokenizer artifact; a session fixture too. */
  private def bpeVocabFixture(s: SparkSession, dir: String): Seq[String] =
    fixture(s, dir, "documents", "bpe_vocab")(
      graft.pipeline.Bpe.vocabulary(T(s, dir, "documents"), "text",
          bpeMergeFixture(s, dir))
        .orderBy("id").collect().map(_.getAs[String]("token")).toSeq)

  /** Hand-set "English prose quality" weights for q_classify_score: the
    * POINT of the literal-weight entry is that a trained model applies as
    * a pure SQL-expressible map pass, so the oracle can recompute it —
    * fixed literals keep the oracle static text. (q_classify_train
    * demonstrates the actual training; its output depends on the corpus
    * and so is rows-only.) Order: len_cap, punct_ratio, stopword_en,
    * mean_wlen_cap, digit_ratio, upper_ratio, intercept. */
  private val classifyDemoWeights =
    Seq(1.0, -2.0, 4.0, 1.0, -3.0, -2.0, -1.0)

  /** Shared WITH-body for the classifier-evaluation oracles: `sc(doc_id,
    * s, y)` = the q_classify_score sigmoid (same feature SQL, same demo
    * weights, rounded to 6 so the tie structure is engine-portable) plus
    * the `lang = 'en'` 0/1 evaluation label. */
  private val classifyScoredCte: String =
    """f AS (
         SELECT doc_id, coalesce(text, '') AS t,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents
       ), feat AS (
         SELECT doc_id, y,
           least(CAST(length(t) AS DOUBLE) / 1000.0, 1.0) AS f1,
           CASE WHEN length(t) > 0 THEN
             CAST(length(t) - length(regexp_replace(t, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
               / length(t) ELSE 0.0 END AS f2,
           CASE WHEN len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) > 0 THEN
             CAST(len(list_filter(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+'),
               w -> w IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
               / len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END AS f3,
           least((CASE WHEN len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) > 0 THEN
             CAST(list_sum(list_transform(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+'),
               w -> length(w))) AS DOUBLE)
               / len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END) / 10.0, 1.0) AS f4,
           CASE WHEN length(t) > 0 THEN
             CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS DOUBLE)
               / length(t) ELSE 0.0 END AS f5,
           CASE WHEN length(t) > 0 THEN
             CAST(length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')) AS DOUBLE)
               / length(t) ELSE 0.0 END AS f6
         FROM f
       ), sc AS (
         SELECT doc_id, y,
           round(1.0 / (1.0 + exp(-(1.0*f1 - 2.0*f2 + 4.0*f3 + 1.0*f4 - 3.0*f5 - 2.0*f6 - 1.0))), 6) AS s
         FROM feat)"""

  /** Generated DuckDB replay of [[graft.pipeline.Bpe.trainMerges]]. The
    * merge sequence is DETERMINATE given the fixed tie order (count DESC,
    * left ASC, right ASC), so the oracle unrolls the greedy rounds as a
    * CTE chain: per round, pair counts over the current vocabulary, the
    * winner by the same ordering, and the vocabulary rewritten by that
    * merge. The only non-trivial piece is replaying the single
    * left-to-right fold of [[graft.pipeline.Bpe.applyMerge]] without a
    * fold primitive: for l != r adjacent occurrences can never overlap,
    * so EVERY occurrence merges; for l == r greedy pairing merges exactly
    * the even offsets within each maximal run of l. Both are positional,
    * hence expressible with list lambdas. (A repeated string-replace
    * fixpoint is NOT equivalent: on a 6-run of `a` it converges to
    * [aa,a,aa,a] where the fold yields [aa,aa,aa].) Every chained CTE is
    * MATERIALIZED — DuckDB inlines plain CTEs, and each round references
    * the previous twice, so un-materialized the expansion (and the
    * parquet re-scans) would grow 2^rounds. */
  /** One positional merge application as a CTE: `src(keep, syms)` ->
    * `dst(keep, syms)` with round-`wk`'s winning pair merged (the
    * [[bpeTrainOracle]] fold replay, shared with the segment/encode
    * oracles). */
  private def bpeApplyMergeCte(src: String, dst: String, wk: String,
                               alias: String, keep: String): String =
    s"""$dst AS MATERIALIZED (
       SELECT $keep, list_filter(list_transform(generate_series(1, len(syms)), i ->
           CASE WHEN f[i] THEN ml || mr
                WHEN i > 1 AND f[i-1] THEN NULL
                ELSE syms[i] END), x -> x IS NOT NULL) AS syms
       FROM (
         SELECT $keep, syms, $wk.l AS ml, $wk.r AS mr,
           list_transform(generate_series(1, len(syms)), i ->
             i < len(syms) AND syms[i] = $wk.l AND syms[i+1] = $wk.r AND
             ($wk.l <> $wk.r OR
              (i - coalesce(list_max(list_filter(generate_series(1, i),
                 j -> syms[j] <> $wk.l)), 0) - 1) % 2 = 0)
           ) AS f
         FROM $src, $wk) $alias)"""

  /** Trainer CTE chain `words, wc, v0..v{n-1}, w0..w{n-1}`: greedy merge
    * rounds over the word-vocabulary table (the [[bpeTrainOracle]] core;
    * n=8 prefixes equal the n=16 run — greedy is prefix-stable). */
  private def bpeTrainerCtes(n: Int): Seq[String] = {
    val head =
      s"""words AS (
         SELECT unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS w FROM documents
       ), wc AS (
         SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words WHERE len(w) > 0 GROUP BY w
       ), v0 AS MATERIALIZED (
         SELECT cnt, list_append(string_split(w, ''), '</w>') AS syms FROM wc
       )"""
    head +: (0 until n).flatMap { k =>
      val pairs =
        s"""p$k AS MATERIALIZED (
           SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS pc
           FROM v$k, unnest(generate_series(1, len(syms) - 1)) AS t$k(i)
           GROUP BY 1, 2),
         w$k AS MATERIALIZED (SELECT l, r, pc FROM p$k ORDER BY pc DESC, l ASC, r ASC LIMIT 1)"""
      if (k == n - 1) Seq(pairs)
      else Seq(pairs, bpeApplyMergeCte(s"v$k", s"v${k + 1}", s"w$k", s"z$k", "cnt"))
    }
  }

  /** Per-document segmentation CTE chain `dw, d0..d{n}`: every document
    * word through the same n merges, in rank order. */
  private def bpeSegmentCtes(n: Int): Seq[String] = {
    val head =
      s"""dw AS (
         SELECT doc_id, ws[i] AS w, i
         FROM (SELECT doc_id,
                 string_split_regex(trim(lower(coalesce(text, ''))), '[ \\t\\n\\x0b\\f\\r]+') AS ws
               FROM documents),
              unnest(generate_series(1, len(ws))) AS tt(i)
       ), d0 AS MATERIALIZED (
         -- empty words (NULL/empty text coalesced to '') carry ZERO base
         -- symbols — just the </w> sentinel, as Bpe.segment emits;
         -- DuckDB string_split('','') = [''] would plant a phantom ''
         SELECT doc_id, i,
           list_append(list_filter(string_split(w, ''), c -> c <> ''), '</w>') AS syms
         FROM dw
       )"""
    head +: (0 until n).map(k =>
      bpeApplyMergeCte(s"d$k", s"d${k + 1}", s"w$k", s"y$k", "doc_id, i"))
  }

  private def bpeTrainOracle(numMerges: Int): String = {
    val sel = (0 until numMerges).map(k =>
      s"""SELECT ${k + 1} AS "rank", l AS "left", r AS "right", l || r AS merged, pc AS pair_count FROM w$k""")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainerCtes(numMerges).mkString(",\n")}
       SELECT * FROM ($sel) ORDER BY "rank""""
  }

  /** DuckDB replay of [[graft.pipeline.Bpe.segment]] with the runtime
    * 8-merge fixture: recompute the merges (trainer chain), apply them to
    * every document word positionally, flatten in word order. */
  private def bpeSegmentOracle(n: Int): String =
    s"""WITH ${(bpeTrainerCtes(n) ++ bpeSegmentCtes(n)).mkString(",\n")}
       , per_doc AS (
         SELECT doc_id, flatten(list(syms ORDER BY i)) AS pieces FROM d$n GROUP BY doc_id
       )
       SELECT doc_id, CAST(len(pieces) AS INT) AS n_pieces,
         array_to_string(pieces[1:12], ' ') AS head_pieces
       FROM per_doc ORDER BY doc_id"""

  /** DuckDB replay of [[graft.pipeline.Bpe.encode]]: segmentation plus
    * the deterministic id vocabulary (`<unk>`, sorted base symbols,
    * merges by rank; first occurrence wins, ids consecutive). */
  private def bpeEncodeOracle(n: Int): String = {
    val mergedList = "[" +
      (0 until n).map(k => s"(SELECT l || r FROM w$k)").mkString(", ") + "]"
    s"""WITH ${(bpeTrainerCtes(n) ++ bpeSegmentCtes(n)).mkString(",\n")}
       , base AS (
         SELECT list(DISTINCT sym ORDER BY sym) AS bs
         FROM (SELECT unnest(syms) AS sym FROM v0)
       ), alltoks AS (
         SELECT ['<unk>'] || bs || $mergedList AS ts FROM base
       ), pos AS (
         SELECT ts[i] AS tok, i FROM alltoks, unnest(generate_series(1, len(ts))) AS tp(i)
       ), ids AS MATERIALIZED (
         SELECT tok, CAST(row_number() OVER (ORDER BY min(i)) - 1 AS INT) AS id
         FROM pos GROUP BY tok
       ), pieces AS (
         SELECT doc_id, i AS wi, p.j AS pj, syms[p.j] AS piece
         FROM d$n, unnest(generate_series(1, len(syms))) AS p(j)
       ), coded AS (
         SELECT doc_id, wi, pj, coalesce(ids.id, 0) AS id
         FROM pieces LEFT JOIN ids ON pieces.piece = ids.tok
       ), per_doc AS (
         SELECT doc_id, list(id ORDER BY wi, pj) AS idl FROM coded GROUP BY doc_id
       )
       SELECT doc_id, CAST(len(idl) AS INT) AS n_ids,
         array_to_string(list_transform(idl[1:16], x -> CAST(x AS VARCHAR)), ' ') AS head_ids
       FROM per_doc ORDER BY doc_id"""
  }

  /** Generated DuckDB replay of
    * [[graft.pipeline.Classifier.trainLogistic]]: full-batch gradient
    * descent is determinate because every per-iteration gradient is an
    * EXACT DECIMAL(30,15) sum (order-invariant on both engines) and the
    * driver-side update is fixed double arithmetic. Each unrolled round
    * keeps the Spark side's exact association order (intercept first in
    * the sigmoid's dot product; decimal->double before the /n). */
  private def classifyTrainOracle(iters: Int): String = {
    val dot = "w$.a7 + w$.a1*f1 + w$.a2*f2 + w$.a3*f3 + w$.a4*f4 + w$.a5*f5 + w$.a6*f6"
    val rounds = (0 until iters).map { k =>
      val d = dot.replace("w$", s"w$k")
      val gs = (1 to 6).map(j =>
        s"sum(CAST(e * f$j AS DECIMAL(30,15))) AS g$j").mkString(", ")
      val ws = (1 to 7).map { j =>
        s"w$k.a$j - 2.0 * (CAST(g$k.g$j AS DOUBLE) / nn.n) AS a$j"
      }.mkString(", ")
      s"""e$k AS MATERIALIZED (
         SELECT f1, f2, f3, f4, f5, f6,
           (1.0 / (1.0 + exp(-($d))) - y) AS e
         FROM feat, w$k),
       g$k AS MATERIALIZED (
         SELECT $gs, sum(CAST(e AS DECIMAL(30,15))) AS g7 FROM e$k),
       w${k + 1} AS MATERIALIZED (SELECT $ws FROM w$k, g$k, nn)"""
    }.mkString(",\n")
    val names = Seq("len_cap", "punct_ratio", "stopword_en", "mean_wlen_cap",
      "digit_ratio", "upper_ratio", "intercept")
    val out = names.zipWithIndex.map { case (n, i) =>
      s"SELECT $i AS idx, '$n' AS name, round(CAST(a${i + 1} AS DOUBLE), 9) AS weight FROM w$iters"
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS (
         SELECT doc_id, coalesce(text, '') AS t, CAST(lang = 'en' AS DOUBLE) AS y FROM documents
       ), feat AS MATERIALIZED (
         SELECT doc_id, y,
           least(CAST(length(t) AS DOUBLE) / 1000.0, 1.0) AS f1,
           CASE WHEN length(t) > 0 THEN
             CAST(length(t) - length(regexp_replace(t, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
               / length(t) ELSE 0.0 END AS f2,
           CASE WHEN len(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+')) > 0 THEN
             CAST(len(list_filter(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+'),
               w -> w IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
               / len(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+')) ELSE 0.0 END AS f3,
           least((CASE WHEN len(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+')) > 0 THEN
             CAST(list_sum(list_transform(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+'),
               w -> length(w))) AS DOUBLE)
               / len(string_split_regex(trim(lower(t)), '[ \\t\\n\\x0b\\f\\r]+')) ELSE 0.0 END) / 10.0, 1.0) AS f4,
           CASE WHEN length(t) > 0 THEN
             CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS DOUBLE)
               / length(t) ELSE 0.0 END AS f5,
           CASE WHEN length(t) > 0 THEN
             CAST(length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')) AS DOUBLE)
               / length(t) ELSE 0.0 END AS f6
         FROM f
       ), nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
       w0 AS MATERIALIZED (SELECT 0.0 AS a1, 0.0 AS a2, 0.0 AS a3, 0.0 AS a4, 0.0 AS a5, 0.0 AS a6, 0.0 AS a7),
       $rounds
       SELECT * FROM ($out) ORDER BY idx"""
  }

  val queries: Seq[Q] = Seq(
    // ---- out-of-vocabulary rate vs the corpus top-16 vocabulary
    //      (CCNet-style rarity signal; ties break on the token string so
    //      the vocabulary is engine-reproducible. topK=16 because the
    //      synthetic corpus has only 31 distinct tokens — real corpora
    //      use the 10k default)
    Q("q_text_oov", (s, dir) => {
      graft.pipeline.TextAnalysis.oovRate(
        T(s, dir, "documents"), "doc_id", "text", topK = 16)
        .orderBy("doc_id")
    }, Sql("""WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents
         ), vocab AS (
           SELECT tok FROM toks GROUP BY tok
           ORDER BY count(*) DESC, tok ASC LIMIT 16
         )
         SELECT t.doc_id,
           CAST(count(*) - count(v.tok) AS DOUBLE) / count(*) AS oov_rate
         FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // ---- unigram-LM mean negative log likelihood (self-trained; the
    //      CCNet-style perplexity quality signal). Per-token logprobs are
    //      decimal-summed and the mean rounded to 6 dp, so the oracle's
    //      ln() needs only ulp-level agreement, not bit equality.
    Q("q_text_lm", (s, dir) => {
      graft.pipeline.TextAnalysis.lmScore(
        T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Sql("""WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents
         ), c AS (
           SELECT tok, count(*) AS c FROM toks GROUP BY tok
         ), t AS (
           SELECT sum(c) AS t FROM c
         )
         SELECT toks.doc_id,
           round(CAST(sum(CAST(-ln(CAST(c.c AS DOUBLE) / t.t) AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS nll
         FROM toks JOIN c USING (tok) CROSS JOIN t
         GROUP BY toks.doc_id ORDER BY toks.doc_id""")),

    // ---- bigram LM score (add-k smoothed): the next step toward CCNet's
    //      n-gram perplexity filter — scores word ORDER, not just word
    //      rarity. Same decimal-summed portability recipe as q_text_lm.
    Q("q_text_lm2", (s, dir) => {
      graft.pipeline.TextAnalysis.lmScoreBigram(
        T(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Sql("""WITH d AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws FROM documents
         ), bg AS (
           SELECT doc_id,
             CASE WHEN i = 1 THEN chr(1) || 's' ELSE ws[i-1] END AS prev,
             ws[i] AS cur
           FROM d, unnest(generate_series(1, len(ws))) AS t(i)
         ), c2 AS (
           SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
         ), c1 AS (
           SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
         ), v AS (
           SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v FROM bg
         )
         SELECT bg.doc_id,
           round(CAST(sum(CAST(-ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS DECIMAL(28,12))) AS DOUBLE)
             / count(*), 6) AS nll2
         FROM bg JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN v
         GROUP BY bg.doc_id ORDER BY doc_id""")),

    // ---- CCNet-style perplexity bucketing: self-trained unigram NLL,
    //      exact interpolated tercile cuts, head/middle/tail tags — the
    //      bucket-by-LM-quality slice CCNet trains from, fully replayable
    Q("q_ccnet_buckets", (s, dir) =>
      graft.pipeline.TextAnalysis.perplexityBuckets(
        T(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"), Sql("""WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents
         ), c AS (
           SELECT tok, count(*) AS c FROM toks GROUP BY tok
         ), t AS (
           SELECT sum(c) AS t FROM c
         ), nll AS (
           SELECT toks.doc_id,
             round(CAST(sum(CAST(-ln(CAST(c.c AS DOUBLE) / t.t) AS DECIMAL(28,12))) AS DOUBLE)
               / count(*), 6) AS nll
           FROM toks JOIN c USING (tok) CROSS JOIN t
           GROUP BY toks.doc_id
         ), g AS (
           SELECT list_sort(list(nll)) AS a, count(*) AS n FROM nll
         ), p AS (
           SELECT a, (n - 1) * (CAST(1 AS DOUBLE) / 3) AS q0p,
                  (n - 1) * (CAST(2 AS DOUBLE) / 3) AS q1p
           FROM g
         ), th AS (
           SELECT
             CASE WHEN ceil(q0p) = floor(q0p) THEN a[CAST(q0p AS INT)+1]
               ELSE (ceil(q0p)-q0p)*a[CAST(floor(q0p) AS INT)+1]
                  + (q0p-floor(q0p))*a[CAST(ceil(q0p) AS INT)+1] END AS q0,
             CASE WHEN ceil(q1p) = floor(q1p) THEN a[CAST(q1p AS INT)+1]
               ELSE (ceil(q1p)-q1p)*a[CAST(floor(q1p) AS INT)+1]
                  + (q1p-floor(q1p))*a[CAST(ceil(q1p) AS INT)+1] END AS q1
           FROM p
         )
         SELECT nll.doc_id, nll.nll,
           CASE WHEN nll.nll <= th.q0 THEN 'head'
                WHEN nll.nll <= th.q1 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM nll, th ORDER BY nll.doc_id""")),

    // ---- per-source unigram KL divergence from the corpus blend: the
    //      mixture-design companion to q_temperature_mix — which sources
    //      sit far from the mixture a temperature flatten would produce.
    //      Decimal-summed addends (the dsum recipe), vocab-sized joins
    Q("q_source_divergence", (s, dir) =>
      graft.pipeline.TextAnalysis.sourceDivergence(
          T(s, dir, "documents"), "source", "text")
        .orderBy("source"), Sql("""WITH gt AS (
           SELECT g, tok, count(*) AS cg FROM (
             SELECT source AS g,
               unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
             FROM documents)
           WHERE length(tok) > 0 GROUP BY g, tok
         ), corpus AS (
           SELECT tok, CAST(sum(cg) AS BIGINT) AS cc FROM gt GROUP BY tok
         ), gtot AS (
           SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
             CAST(count(*) AS BIGINT) AS vg
           FROM gt GROUP BY g
         ), ct AS (
           SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corpus
         )
         SELECT gt.g AS source, any_value(gtot.ng) AS n_tokens,
           any_value(gtot.vg) AS vocab,
           round(CAST(sum(CAST(
             (CAST(gt.cg AS DOUBLE) / gtot.ng)
               * ln((CAST(gt.cg AS DOUBLE) * ct.nc)
                    / (CAST(corpus.cc AS DOUBLE) * gtot.ng))
             AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl
         FROM gt JOIN corpus USING (tok) JOIN gtot USING (g) CROSS JOIN ct
         GROUP BY gt.g ORDER BY gt.g""")),

    // ---- BPE tokenizer training (Sennrich 2016). Three facets:
    //      round-1 adjacent-pair statistics (a pure two-aggregate plan,
    //      full DuckDB oracle), the iterative trainer (deterministic
    //      count-desc/lexicographic tie-break — FULLY oracled by
    //      unrolling the 16 greedy rounds as a DuckDB CTE chain, see
    //      [[bpeTrainOracle]]), and segmentation with the trained merges
    //      (ALSO fully oracled: [[bpeSegmentOracle]] recomputes the
    //      8-merge fixture and replays the per-word fold positionally;
    //      reconstruction law additionally pinned in BpeSpec). Scale
    //      shape: ONE corpus pass, then vocabulary-sized iterations —
    //      see Bpe.scala's scaladoc.
    Q("q_bpe_pairs", (s, dir) => {
      graft.pipeline.Bpe.pairCounts(
        graft.pipeline.Bpe.initialVocab(T(s, dir, "documents"), "text"))
        .orderBy("l", "r")
    }, Sql("""WITH words AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS w
           FROM documents
         ), wc AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM words
           WHERE len(w) > 0 GROUP BY w
         ), syms AS (
           SELECT cnt, list_append(string_split(w, ''), '</w>') AS s FROM wc
         ), idx AS (
           SELECT cnt, s, i
           FROM syms, unnest(generate_series(1, len(s) - 1)) AS t(i)
         )
         SELECT s[i] AS l, s[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS pair_count
         FROM idx GROUP BY 1, 2 ORDER BY l, r""")),
    Q("q_bpe_train", (s, dir) =>
      graft.pipeline.Bpe.trainMerges(T(s, dir, "documents"), "text",
        numMerges = 16).orderBy("rank"), Sql(bpeTrainOracle(16))),
    Q("q_bpe_segment", (s, dir) => {
      val merges = bpeMergeFixture(s, dir)
      // NULL text tokenizes as '' (both engines): a pipeline emits a row
      // per doc, never drops records at the tokenizer
      T(s, dir, "documents")
        .select(col("doc_id"),
          flatten(graft.pipeline.Bpe.segment(coalesce(col("text"), lit("")), merges))
            .as("pieces"))
        .select(col("doc_id"), size(col("pieces")).as("n_pieces"),
          concat_ws(" ", slice(col("pieces"), 1, 12)).as("head_pieces"))
        .orderBy("doc_id")
    }, Sql(bpeSegmentOracle(8))),
    // encode-to-ids: the artifact an LM pipeline actually emits (merges +
    // vocab frozen into ONE kernel call per document). Fully oracled like
    // the trainer: DuckDB recomputes the 8-merge fixture, replays the
    // per-word segmentation positionally, and renumbers the vocabulary by
    // first occurrence ([[bpeEncodeOracle]]); decode-inversion and unk
    // laws additionally pinned in BpeSpec.
    Q("q_bpe_encode", (s, dir) => {
      val merges = bpeMergeFixture(s, dir)
      val vocab = bpeVocabFixture(s, dir)
      T(s, dir, "documents")
        .select(col("doc_id"),
          graft.pipeline.Bpe.encode(coalesce(col("text"), lit("")), merges, vocab)
            .as("ids"))
        .select(col("doc_id"), size(col("ids")).as("n_ids"),
          concat_ws(" ", transform(slice(col("ids"), 1, 16),
            i => i.cast("string"))).as("head_ids"))
        .orderBy("doc_id")
    }, Sql(bpeEncodeOracle(8))),

    // ---- text quality metrics (portable arithmetic => full oracle)
    Q("q_text_quality", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      T(s, dir, "documents").calculate(Seq(
        "n_tokens" -> ta.tokenCountWsNonEmpty(col("text")),
        "n_bpe" -> ta.tokenCountBpe(col("text")),
        "punct_ratio" -> ta.punctRatio(col("text")),
        "mean_wlen" -> ta.meanWordLength(col("text")),
        "sw_en" -> ta.stopwordRatio(col("text"), "en")))
        .selectColumns(Seq("doc_id", "n_tokens", "n_bpe", "punct_ratio", "mean_wlen", "sw_en"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""SELECT doc_id,
         len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                   w -> len(w) > 0)) AS n_tokens,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0b\f\r]')) AS n_bpe,
         CASE WHEN length(text) > 0 THEN
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
             / length(text) ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) > 0 THEN
           CAST(list_sum(list_transform(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'), t -> length(t))) AS DOUBLE)
             / len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END AS mean_wlen,
         CASE WHEN len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) > 0 THEN
           CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
             t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
             / len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END AS sw_en
         FROM documents ORDER BY doc_id""")),

    // ---- composite quality score (heuristic-filter recipe)
    Q("q_text_scored", (s, dir) => {
      T(s, dir, "documents")
        .calculate(Seq("score" -> graft.pipeline.TextAnalysis.qualityScore(col("text"))))
        .selectColumns(Seq("doc_id", "score"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH c AS (
           SELECT doc_id,
             least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) AS len_score,
             CASE WHEN len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) > 0 THEN
               CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                 t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
                 / len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END AS sw,
             CASE WHEN length(text) > 0 THEN
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / length(text) ELSE 0.0 END AS punct
           FROM documents)
         SELECT doc_id,
           least(len_score, 1.0) * 0.4 + least(sw * 5.0, 1.0) * 0.3 +
           greatest(0.0, 1.0 - punct * 5.0) * 0.3 AS score
         FROM c ORDER BY doc_id""")),

    // ---- Unicode hygiene. q_text_nfc: NFC normalization vs DuckDB's own
    //      nfc_normalize — the corpus is already NFC, so a decomposed
    //      suffix (e + combining acute) forces one real composition per
    //      row. q_text_fixmojibake: repair is oracle-checked by
    //      INVERSION — corrupt the text through a latin-1 misdecode
    //      in-plan (encode/decode), repair with the kernel, and the
    //      oracle asserts equality with the pristine original text.
    Q("q_text_nfc", (s, dir) => {
      T(s, dir, "documents")
        .calculate(Seq("nfc" -> graft.pipeline.TextAnalysis.normalizeUnicode(
          concat(col("text"), lit("e\u0301"))))) // decomposed; NFC composes it
        .selectColumns(Seq("doc_id", "nfc"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""SELECT doc_id, nfc_normalize(text || 'e' || chr(769)) AS nfc
         FROM documents ORDER BY doc_id""")),
    Q("q_text_fixmojibake", (s, dir) => {
      T(s, dir, "documents")
        .calculate(Seq("fixed" -> graft.pipeline.TextAnalysis.fixMojibake(
          decode(encode(col("text"), "UTF-8"), "ISO-8859-1"))))
        .selectColumns(Seq("doc_id", "fixed"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""SELECT doc_id, text AS fixed FROM documents ORDER BY doc_id""")),

    // ---- TRAINED quality filter (CCNet/fastText-style model-based
    //      filtering): scoring with literal trained weights is a pure
    //      map-only sigmoid — fully oracle-checked vs DuckDB recomputing
    //      all six features; training (iterative exact-decimal gradient
    //      descent, one aggregate per iteration over a checkpointed
    //      compact feature table) is ALSO fully oracled — the exact
    //      decimal sums make each round determinate, so DuckDB replays
    //      the 12 unrolled iterations ([[classifyTrainOracle]]);
    //      determinism + convergence additionally pinned in
    //      ClassifierSpec.
    Q("q_classify_score", (s, dir) => {
      graft.pipeline.Classifier.scored(
          T(s, dir, "documents"), "text", classifyDemoWeights)
        .calculate(Seq("score" -> round(col("score"), 6)))
        .selectColumns(Seq("doc_id", "score"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH f AS (
           SELECT doc_id, coalesce(text, '') AS t FROM documents
         ), feat AS (
           SELECT doc_id,
             least(CAST(length(t) AS DOUBLE) / 1000.0, 1.0) AS f1,
             CASE WHEN length(t) > 0 THEN
               CAST(length(t) - length(regexp_replace(t, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / length(t) ELSE 0.0 END AS f2,
             CASE WHEN len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) > 0 THEN
               CAST(len(list_filter(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+'),
                 w -> w IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
                 / len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END AS f3,
             least((CASE WHEN len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) > 0 THEN
               CAST(list_sum(list_transform(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+'),
                 w -> length(w))) AS DOUBLE)
                 / len(string_split_regex(trim(lower(t)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END) / 10.0, 1.0) AS f4,
             CASE WHEN length(t) > 0 THEN
               CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS DOUBLE)
                 / length(t) ELSE 0.0 END AS f5,
             CASE WHEN length(t) > 0 THEN
               CAST(length(t) - length(regexp_replace(t, '[A-Z]', '', 'g')) AS DOUBLE)
                 / length(t) ELSE 0.0 END AS f6
           FROM f)
         SELECT doc_id,
           round(1.0 / (1.0 + exp(-(1.0*f1 - 2.0*f2 + 4.0*f3 + 1.0*f4 - 3.0*f5 - 2.0*f6 - 1.0))), 6) AS score
         FROM feat ORDER BY doc_id""")),
    Q("q_classify_train", (s, dir) =>
      graft.pipeline.Classifier.weightTable(T(s, dir, "documents"), "text",
        (col("lang") === "en").cast("double"), iters = 12).orderBy("idx"), Sql(classifyTrainOracle(12))),

    // ---- classifier evaluation suite over the demo-weight scores and
    //      the lang='en' label: exact tie-averaged Mann-Whitney AUC
    //      (bucketed prefix-sum, no global window), fixed-bin calibration,
    //      and a one-pass threshold sweep — the "should I trust this
    //      filter at cut x?" reads, each replayed end-to-end in DuckDB
    Q("q_classify_auc", (s, dir) => {
      val sc = graft.pipeline.Classifier.scored(
        T(s, dir, "documents"), "text", classifyDemoWeights)
      // total label: NULL lang counts as negative on both engines (the
      // oracle CTE's CASE ... ELSE 0; aucReport would drop a NULL label)
      graft.pipeline.Classifier.aucReport(
        sc, round(col("score"), 6), coalesce(col("lang") === "en", lit(false)))
    }, Sql(s"""WITH $classifyScoredCte,
         g AS (SELECT s, count(*) AS n, sum(y) AS p FROM sc GROUP BY s),
         r AS (SELECT n, p,
             coalesce(sum(n) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM g)
         SELECT CAST(sum(p) AS BIGINT) AS npos,
           CAST(sum(n - p) AS BIGINT) AS nneg,
           CASE WHEN sum(p) > 0 AND sum(n - p) > 0 THEN
             round((CAST(sum(p * (2 * below + n + 1)) AS DOUBLE)
                 - CAST(sum(p) AS DOUBLE) * (sum(p) + 1))
               / (2.0 * sum(p) * sum(n - p)), 9) END AS auc
         FROM r""")),
    Q("q_classify_calibration", (s, dir) => {
      val sc = graft.pipeline.Classifier.scored(
        T(s, dir, "documents"), "text", classifyDemoWeights)
      graft.pipeline.Classifier.calibrationReport(
          sc, round(col("score"), 6), coalesce(col("lang") === "en", lit(false)))
        .warpSort(Seq(Order(col("bin"))))
    }, Sql(s"""WITH $classifyScoredCte
         SELECT CAST(least(greatest(floor(s * 10), 0), 9) AS INT) AS bin,
           count(*) AS n,
           round(CAST(sum(CAST(s AS DECIMAL(30,15))) AS DOUBLE) / count(*), 9) AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / count(*), 9) AS pos_rate
         FROM sc GROUP BY 1 ORDER BY 1""")),
    Q("q_classify_thresholds", (s, dir) => {
      val sc = graft.pipeline.Classifier.scored(
        T(s, dir, "documents"), "text", classifyDemoWeights)
      graft.pipeline.Classifier.thresholdReport(
          sc, round(col("score"), 6), coalesce(col("lang") === "en", lit(false)),
          (1 to 9).map(_ / 10.0))
        .warpSort(Seq(Order(col("threshold"))))
    }, Sql(s"""WITH $classifyScoredCte,
         t AS (SELECT CAST(unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS DOUBLE) AS threshold),
         a AS (SELECT t.threshold,
             count(*) FILTER (WHERE sc.s >= t.threshold) AS predicted,
             coalesce(sum(sc.y) FILTER (WHERE sc.s >= t.threshold), 0) AS tp,
             sum(sc.y) AS pos
           FROM sc, t GROUP BY t.threshold)
         SELECT threshold, CAST(predicted AS BIGINT) AS predicted,
           CAST(tp AS BIGINT) AS tp,
           CASE WHEN predicted > 0
             THEN round(CAST(tp AS DOUBLE) / predicted, 9) END AS precision,
           CASE WHEN pos > 0
             THEN round(CAST(tp AS DOUBLE) / pos, 9) END AS recall,
           CASE WHEN predicted + pos > 0
             THEN round(2.0 * CAST(tp AS DOUBLE) / (predicted + pos), 9) END AS f1
         FROM a ORDER BY threshold""")),

    // ---- DSIR-style importance weights vs an in-domain target sample
    //      (lang='en' docs): mean per-token smoothed log-probability ratio
    Q("q_importance", (s, dir) => {
      val docs = T(s, dir, "documents")
      val target = docs.warpFilter(col("lang") === "en")
      graft.pipeline.TextAnalysis.importanceWeight(docs, "doc_id", "text",
          target, "text")
        .orderBy("doc_id")
    }, Sql("""WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents
         ), tt AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents WHERE lang = 'en'
         ), cc AS (
           SELECT tok, count(*) AS cc FROM toks GROUP BY tok
         ), ct AS (
           SELECT tok, count(*) AS ct FROM tt GROUP BY tok
         ), vocab AS (
           SELECT COALESCE(cc.tok, ct.tok) AS tok, cc.cc, ct.ct
           FROM cc FULL OUTER JOIN ct ON cc.tok = ct.tok
         ), sizes AS (
           SELECT count(*) AS v,
             sum(COALESCE(ct, 0)) AS tt_total,
             sum(COALESCE(cc, 0)) AS tc_total
           FROM vocab
         )
         SELECT toks.doc_id,
           round(CAST(sum(CAST(
               ln((COALESCE(vocab.ct, 0) + CAST(1.0 AS DOUBLE)) / (sizes.tt_total + sizes.v))
             - ln((COALESCE(vocab.cc, 0) + CAST(1.0 AS DOUBLE)) / (sizes.tc_total + sizes.v))
             AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS logratio
         FROM toks JOIN vocab USING (tok) CROSS JOIN sizes
         GROUP BY toks.doc_id ORDER BY toks.doc_id""")),

    // ---- Zipf rank-frequency fit over the top-100 tokens: slope ~ -1 is
    //      healthy natural text; exact-decimal bivariate moments, so the
    //      one-row report hash-replays
    Q("q_zipf", (s, dir) =>
      graft.pipeline.TextAnalysis.zipfFit(
        T(s, dir, "documents"), "text", topN = 100), Sql("""WITH tk AS (
           SELECT t, count(*) AS c FROM (
             SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY t),
         tp AS (
           SELECT CAST(c AS DOUBLE) AS c,
             row_number() OVER (ORDER BY c DESC, t) AS r
           FROM tk ORDER BY c DESC, t LIMIT 100),
         pt AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(c) AS y FROM tp),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,6))
                    * CAST(x AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(19,6))
                    * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(19,6))
                    * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy
           FROM pt)
         SELECT CAST(n AS BIGINT) AS n_ranks,
           CASE WHEN n > 1 AND n*sxx - sx*sx > 0 THEN
             (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS slope,
           CASE WHEN n > 1 AND n*sxx - sx*sx > 0 THEN
             (sy - sx * (n*sxy - sx*sy) / (n*sxx - sx*sx)) / n END AS intercept,
           CASE WHEN n > 1 AND (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN
             ((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)))
               * ((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)))
             END AS r2
         FROM m""")),

    // ---- per-source corpus report card: counts, token totals, mean
    //      quality (decimal-exact), corpus-wide duplicate incidence
    Q("q_corpus_stats", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      val docs = T(s, dir, "documents")
      // plant duplicates so the dup column exercises: docs 0-24 re-appear
      val planted = docs.warpFilter(col("doc_id") < 25)
        .calculate(Seq("doc_id" -> (col("doc_id") + 300000)))
      val enriched = docs.warpUnion(planted).calculate(Seq(
        "fp" -> ta.fingerprintMd5(col("text")),
        "ntok" -> ta.tokenCountWsNonEmpty(col("text")).cast("long"),
        "score" -> ta.qualityScore(col("text"))))
      val dupFps = enriched.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select(col("fp"), lit(true).as("__dup"))
      enriched.join(dupFps, Seq("fp"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("tok_total"),
          davg(col("score")).as("avg_quality"),
          count(col("__dup")).as("n_dup_docs"))
        .orderBy("source")
    }, Sql("""WITH base AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + 300000, text, source FROM documents WHERE doc_id < 25
         ), f AS (
           SELECT source,
             md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                   w -> len(w) > 0)) AS BIGINT)
               AS ntok,
             least(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) * 0.4 +
             least((CASE WHEN len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) > 0 THEN
               CAST(len(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                 t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE)
                 / len(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) ELSE 0.0 END) * 5.0, 1.0) * 0.3 +
             greatest(0.0, 1.0 - (CASE WHEN length(text) > 0 THEN
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / length(text) ELSE 0.0 END) * 5.0) * 0.3 AS score
           FROM base
         ), d AS (
           SELECT fp FROM f GROUP BY fp HAVING count(*) > 1
         )
         SELECT source,
           count(*) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS tok_total,
           CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / count(score) AS avg_quality,
           count(d.fp) AS n_dup_docs
         FROM f LEFT JOIN d USING (fp)
         GROUP BY source ORDER BY source""")),

    // ---- top-k salient terms per document (tf/df ranking)
    Q("q_tfidf_terms", (s, dir) => {
      graft.pipeline.TextAnalysis.salientTerms(T(s, dir, "documents"), "doc_id", "text", 3)
        .warpSort(Seq(Order(col("doc_id")), Order(col("term_rank"))))
    }, Sql("""WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY term
         ), r AS (
           SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                  CAST(row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY CAST(tf.tf AS DOUBLE) / dfq.df DESC, tf.term ASC) AS INT)
                    AS term_rank
           FROM tf JOIN dfq USING (term)
         )
         SELECT doc_id, term_rank, term, tf, df FROM r WHERE term_rank <= 3
         ORDER BY doc_id, term_rank""")),

    // ---- sketch-gated EXACT heavy hitters: Misra-Gries candidate pass
    //      (map-only, ≤k counters/partition) then an exact recount of the
    //      candidates only — the most frequent tokens across the corpus
    //      without shuffling the full token cardinality
    Q("q_heavyhitters", (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("item"))
      graft.pipeline.HeavyHitters.topKExact(toks, col("item"), n = 20, k = 1 << 14)
    }, Sql("""WITH toks AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS item
           FROM documents
         )
         SELECT item, count(*) AS cnt FROM toks GROUP BY item
         ORDER BY cnt DESC, item ASC LIMIT 20""")),

    // ---- corpus diversity: pairwise vocabulary Jaccard between sources —
    //      integer-exact, group-bounded (never token-quadratic)
    Q("q_vocab_overlap", (s, dir) => {
      graft.pipeline.TextAnalysis.vocabOverlap(T(s, dir, "documents"), "source", "text")
        .warpSort(Seq(Order(col("group_a"), numeric = false),
          Order(col("group_b"), numeric = false)))
    }, Sql("""WITH v AS (
           SELECT DISTINCT source AS g,
             unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
           FROM documents
         ), sz AS (
           SELECT g, count(*) AS n FROM v GROUP BY g
         ), i AS (
           SELECT a.g AS group_a, b.g AS group_b, count(*) AS inter
           FROM v a JOIN v b ON a.tok = b.tok AND a.g < b.g
           GROUP BY 1, 2
         )
         SELECT group_a, group_b, inter,
           sa.n + sb.n - inter AS uni,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         FROM i JOIN sz sa ON sa.g = group_a JOIN sz sb ON sb.g = group_b
         ORDER BY group_a, group_b""")),

    // ---- per-group top-k terms: rank-filtered window, executed as
    //      WindowGroupLimit (partial top-k before the shuffle)
    Q("q_topk_per_group", (s, dir) => {
      val toks = T(s, dir, "documents").select(col("source"),
        explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      graft.pipeline.HeavyHitters.topKPerGroup(toks, Seq("source"), col("tok"), n = 3)
        .warpSort(Seq(Order(col("source"), numeric = false), Order(col("rk"))))
    }, Sql("""WITH toks AS (
           SELECT source,
             unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS item
           FROM documents
         ), c AS (
           SELECT source, item, count(*) AS cnt FROM toks GROUP BY source, item
         )
         SELECT source, item, cnt,
           CAST(row_number() OVER (PARTITION BY source
             ORDER BY cnt DESC, item ASC) AS INT) AS rk
         FROM c QUALIFY rk <= 3 ORDER BY source, rk""")),

    // ---- fixed-token-window chunking with overlap (RAG / long-doc
    //      preprocessing; the inverse of q_pack_sequences). Map-only.
    Q("q_chunk", (s, dir) => {
      graft.pipeline.Retrieval.chunkByTokens(T(s, dir, "documents"),
          "doc_id", "text", chunkTokens = 24, overlap = 8)
        .warpSort(Seq(Order(col("doc_id")), Order(col("chunk_id"))))
    }, Sql("""WITH t AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
           FROM documents
         ), t2 AS (
           SELECT doc_id, toks, len(toks) AS n FROM t
           WHERE len(toks) > 0 AND NOT (len(toks) = 1 AND toks[1] = '')
         ), c AS (
           SELECT doc_id, toks, n, unnest(range(0, n, 16)) AS strt FROM t2
         )
         SELECT doc_id, CAST(strt // 16 AS INT) AS chunk_id,
           array_to_string(list_slice(toks, strt + 1, strt + 24), ' ') AS chunk_text,
           CAST(least(n - strt, 24) AS INT) AS chunk_tokens
         FROM c ORDER BY doc_id, chunk_id""")),

    // ---- tokenizer fertility per (source, lang): subword-per-word cost
    //      signal for mixture/budget decisions; all-integer until the
    //      final division, so exact cross-engine
    Q("q_fertility", (s, dir) => {
      graft.pipeline.TextAnalysis.fertilityReport(
          T(s, dir, "documents"), Seq("source", "lang"), "text")
        .warpSort(Seq(Order(col("source"), numeric = false),
          Order(col("lang"), numeric = false)))
    },
      // r11: the whole corpus-statistics oracle family moved OFF regex
      // constructs (string_split_regex / regexp_extract_all /
      // per-class regexp_replace) onto the per-character-class
      // charClassCte — the four r8-r10 driver-red rows shared exactly
      // those constructs while every green tokenizing entry avoided
      // them; the constructs themselves are cross-checked in the
      // driver's DuckDB by the q_diag_agree_* sentinels.
      // r12: the production family moved onto the CASELESS char-class CTE
      // (no lower() on either engine's path) and integer-derived
      // DECIMAL(18,9) ratios (no round(double, 9) anywhere) — the two
      // engine-owned surfaces the r11 bisect left as suspects.
      // r13: every integer sum() reaching an output column is wrapped in
      // CAST(... AS BIGINT) — DuckDB widens sum(BIGINT) to HUGEINT, which
      // serializes as decimal128(38,0) on the driver's Arrow fetch path and
      // hash-diverges from Spark's LONG on numerically identical values
      // (VERDICT r12 root cause; the construct shared by all 7 r12 reds and
      // absent from all 246 greens). OracleLintSpec now gates this class.
      Sql(s"""WITH $charClassCteNoLower
         SELECT source, lang, docs, ws_tokens, bpe_tokens,
           ${dbl9Sql("bpe_tokens", "ws_tokens")} AS fertility
         FROM (
           SELECT source, lang, count(*) AS docs,
             CAST(sum(ws) AS BIGINT) AS ws_tokens,
             CAST(sum(bpe) AS BIGINT) AS bpe_tokens
           FROM cnt GROUP BY source, lang)
         ORDER BY source, lang""")),

    // ---- script/character-class mix per corpus slice: the mixed-script
    //      spam / mislabeled-language curation gauge; explicit code-point
    //      ranges, integer totals, one rounded ratio
    Q("q_text_scripts", (s, dir) => {
      graft.pipeline.TextAnalysis.scriptReport(
          T(s, dir, "documents"), Seq("source", "lang"), "text")
        .warpSort(Seq(Order(col("source"), numeric = false),
          Order(col("lang"), numeric = false)))
    },
      // Script report: per-class counts via per-character unicode()
      // code-point classification — regex-FREE (r11; the
      // length-minus-regexp_replace identity was one of the quarantined
      // red-family constructs). Same explicit ranges as the Spark side:
      // ASCII letters 65-90/97-122, digits 48-57, Cyrillic 1024-1279,
      // Greek 880-1023, CJK 19968-40959, whitespace {9,10,11,12,13,32}.
      Sql(s"""WITH cp AS (
           SELECT source, lang,
             CAST(length(text) AS BIGINT) AS n,
             list_transform(string_split(text, ''), c -> unicode(c)) AS u
           FROM documents
         ), per AS (
           SELECT source, lang, n,
             CAST(len(list_filter(u, x -> (x BETWEEN 65 AND 90) OR (x BETWEEN 97 AND 122))) AS BIGINT) AS latin,
             CAST(len(list_filter(u, x -> x BETWEEN 48 AND 57)) AS BIGINT) AS digit,
             CAST(len(list_filter(u, x -> x BETWEEN 1024 AND 1279)) AS BIGINT) AS cyrillic,
             CAST(len(list_filter(u, x -> x BETWEEN 880 AND 1023)) AS BIGINT) AS greek,
             CAST(len(list_filter(u, x -> x BETWEEN 19968 AND 40959)) AS BIGINT) AS cjk,
             CAST(len(list_filter(u, x -> x IN (9,10,11,12,13,32))) AS BIGINT) AS whitespace
           FROM cp)
         SELECT source, lang, docs, chars, latin, digit, cyrillic, greek,
           cjk, whitespace,
           chars - latin - digit - cyrillic - greek - cjk - whitespace AS other,
           ${dbl9Sql("latin", "chars")} AS latin_ratio
         FROM (
           SELECT source, lang, count(*) AS docs,
             CAST(sum(n) AS BIGINT) AS chars,
             CAST(sum(latin) AS BIGINT) AS latin,
             CAST(sum(digit) AS BIGINT) AS digit,
             CAST(sum(cyrillic) AS BIGINT) AS cyrillic,
             CAST(sum(greek) AS BIGINT) AS greek,
             CAST(sum(cjk) AS BIGINT) AS cjk,
             CAST(sum(whitespace) AS BIGINT) AS whitespace
           FROM per GROUP BY source, lang)
         ORDER BY source, lang""")),

    // ---- integers-only diagnostic twin of q_fertility (no DOUBLE at
    //      all): if the ratio query ever diverges cross-engine, this row
    //      pinpoints WHICH count column (ws_tokens vs bpe_tokens) moved
    Q("q_fertility_counts", (s, dir) => {
      graft.pipeline.TextAnalysis.fertilityReport(
          T(s, dir, "documents"), Seq("source", "lang"), "text")
        .drop("fertility")
        .warpSort(Seq(Order(col("source"), numeric = false),
          Order(col("lang"), numeric = false)))
    },
      // Integers-only diagnostic twin of q_fertility: no DOUBLE column at
      // all, so a red here localizes any residual cross-engine divergence
      // to a specific BIGINT count column in CORRECTNESS artifacts.
      Sql(s"""WITH $charClassCteNoLower
         SELECT source, lang, count(*) AS docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens
         FROM cnt GROUP BY source, lang
         ORDER BY source, lang""")),

    // ---- content fingerprint (md5 — engine portable)
    Q("q_text_fingerprint", (s, dir) => {
      T(s, dir, "documents")
        .calculate(Seq("fp" -> graft.pipeline.TextAnalysis.fingerprintMd5(col("text"))))
        .selectColumns(Seq("doc_id", "fp"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""SELECT doc_id, md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""")),

    // ---- language ID heuristic (argmax stopword ratio)
    Q("q_text_langid", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      T(s, dir, "documents")
        .calculate(Seq("detected" -> ta.langId(col("text"), Seq("en", "de", "es"))))
        .selectColumns(Seq("doc_id", "detected"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS tks FROM documents
         ), scores AS (
           SELECT doc_id,
             CASE WHEN len(tks) > 0 THEN CAST(len(list_filter(tks,
               t -> t IN ('the','a','of','and','to','in','is','it','that','was'))) AS DOUBLE) / len(tks)
               ELSE 0.0 END AS s_en,
             CASE WHEN len(tks) > 0 THEN CAST(len(list_filter(tks,
               t -> t IN ('der','die','das','und','ist','von','mit','ein','nicht','zu'))) AS DOUBLE) / len(tks)
               ELSE 0.0 END AS s_de,
             CASE WHEN len(tks) > 0 THEN CAST(len(list_filter(tks,
               t -> t IN ('el','la','los','y','es','de','un','una','que','no'))) AS DOUBLE) / len(tks)
               ELSE 0.0 END AS s_es
           FROM toks
         )
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_es) < 0.02 THEN 'und'
                WHEN s_es = greatest(s_en, s_de, s_es) THEN 'es'
                WHEN s_en = greatest(s_en, s_de, s_es) THEN 'en'
                ELSE 'de' END AS detected
         FROM scores ORDER BY doc_id""")),

    // ---- repetition signals (Gopher-style filters; one native kernel pass)
    Q("q_text_repetition", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      T(s, dir, "documents").calculate(Seq(
        "dup_token_ratio" -> ta.dupTokenRatio(col("text")),
        "top_token_frac" -> ta.topTokenFraction(col("text")),
        "dup_bigram_ratio" -> ta.dupBigramRatio(col("text")),
        // the corpus is single-line; fold tokens onto lines so the
        // duplicate-line filter is exercised non-trivially
        "dup_line_frac" -> ta.duplicateLineFraction(translate(col("text"), " ", "\n"))))
        .selectColumns(Seq("doc_id", "dup_token_ratio", "top_token_frac",
          "dup_bigram_ratio", "dup_line_frac"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH toks AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ts,
                  -- the Spark entry folds spaces onto newlines BEFORE the
                  -- line split, so pre-existing newlines in the text are
                  -- line boundaries too
                  string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
           FROM documents
         ), tstats AS (
           SELECT doc_id, SUM(c) AS n, COUNT(*) AS d, MAX(c) AS mx FROM (
             SELECT doc_id, t, COUNT(*) AS c FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
             GROUP BY doc_id, t) GROUP BY doc_id
         ), bstats AS (
           SELECT doc_id, SUM(c) AS nb, COUNT(*) AS db FROM (
             SELECT doc_id, b, COUNT(*) AS c FROM (
               SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS b
               FROM toks, unnest(range(1, len(ts))) AS u(i)) GROUP BY doc_id, b)
           GROUP BY doc_id
         )
         SELECT t.doc_id,
           CASE WHEN s.n > 0 THEN CAST(s.n - s.d AS DOUBLE) / s.n ELSE 0.0 END AS dup_token_ratio,
           CASE WHEN s.n > 0 THEN CAST(s.mx AS DOUBLE) / s.n ELSE 0.0 END AS top_token_frac,
           CASE WHEN coalesce(b.nb, 0) > 0 THEN CAST(b.nb - b.db AS DOUBLE) / b.nb ELSE 0.0 END AS dup_bigram_ratio,
           CASE WHEN len(t.ls) > 0 THEN CAST(len(t.ls) - len(list_distinct(t.ls)) AS DOUBLE) / len(t.ls) ELSE 0.0 END AS dup_line_frac
         FROM toks t LEFT JOIN tstats s USING (doc_id) LEFT JOIN bstats b USING (doc_id)
         ORDER BY doc_id""")),

    // ---- PII detection + redaction (planted deterministically: the
    //      corpus text is clean, so counts would all be zero otherwise)
    Q("q_text_pii", (s, dir) => {
      val ta = graft.pipeline.TextAnalysis
      T(s, dir, "documents").calculate(Seq(
        "synth" -> concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."), (col("doc_id") % 200).cast("string"),
          lit(".0.1 tel +1555"), lpad(col("doc_id").cast("string"), 7, "0"))))
        .calculate(Seq(
          "emails" -> ta.piiEmailCount(col("synth")),
          "ips" -> ta.piiIpv4Count(col("synth")),
          "phones" -> ta.piiPhoneCount(col("synth")),
          "redacted" -> ta.redactPii(col("synth"))))
        .selectColumns(Seq("doc_id", "emails", "ips", "phones", "redacted"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH synth AS (
           SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via 10.'
             || CAST(doc_id % 200 AS VARCHAR) || '.0.1 tel +1555' || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS s
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails,
           len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ips,
           len(regexp_extract_all(s, '\+\d{7,15}')) AS phones,
           regexp_replace(regexp_replace(regexp_replace(s,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+\d{7,15}', '<PHONE>', 'g') AS redacted
         FROM synth ORDER BY doc_id""")),

    // ---- corpus-level boilerplate line removal (C4 recipe): drop lines
    //      occurring in >= 78% of documents. The corpus is single-line, so
    //      tokens are folded onto lines first; the 78% threshold removes
    //      the most common vocabulary lines and keeps the rest.
    Q("q_text_boilerplate", (s, dir) => {
      // fraction threshold: corpus size is a broadcast scalar INSIDE the
      // plan — building this query runs no job (pinned by PlanAuditSpec)
      graft.pipeline.TextAnalysis.removeBoilerplateLinesByFrac(
        T(s, dir, "documents").calculate(Seq("lined" -> translate(col("text"), " ", "\n"))),
        "doc_id", "lined", minDocFrac = 0.78)
        .selectColumns(Seq("doc_id", "clean_text"))
        .warpSort(Seq(Order(col("doc_id"))))
    }, Sql("""WITH d AS (
           SELECT doc_id, string_split(replace(text, ' ', chr(10)), chr(10)) AS ls FROM documents
         ), lines AS (
           SELECT doc_id, i, ls[i] AS l FROM d, unnest(range(1, len(ls) + 1)) AS u(i)
         ), bad AS (
           SELECT l FROM lines GROUP BY l
           HAVING count(DISTINCT doc_id) >= CAST(ceil(0.78 * (SELECT count(*) FROM documents)) AS BIGINT)
         ), kept AS (
           SELECT doc_id, i, l FROM lines WHERE l NOT IN (SELECT l FROM bad)
         ), agg AS (
           SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS c FROM kept GROUP BY doc_id
         )
         SELECT d2.doc_id, coalesce(a.c, '') AS clean_text
         FROM documents d2 LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""))
  )
}
