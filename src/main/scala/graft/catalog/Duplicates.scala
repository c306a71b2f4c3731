package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import Shared._

/** Deduplication: exact, near-duplicate and sub-document dedup,
  * containment, contamination and duplicate-cluster resolution. */
object Duplicates {
  /** DuckDB oracle replaying the md5-tier MinHash LSH pairs of
    * q_dedup_minhash_md5 end-to-end: same derived corpus as
    * q_dedup_jaccard, hash i of shingle s = first 60 bits of
    * md5("i:s"), per-band signature-key join, exact-Jaccard verify. */
  private def minhashMd5Oracle(numHashes: Int, bands: Int,
                               threshold: Double): String = {
    val r = numHashes / bands
    val sigs = (0 until numHashes).map { i =>
      s"""list_min(list_transform(s, x ->
         CAST(('0x' || substr(md5('$i:' || x), 1, 15)) AS BIGINT))) AS sig$i"""
    }.mkString(",\n           ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until r).map(j => s"CAST(sig${b * r + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sg"
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text || ' nearly identical content' AS text
           FROM documents WHERE doc_id % 50 = 0
         ), w AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM d
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ws) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')))
               ELSE list_distinct([array_to_string(ws, ' ')]) END AS s
           FROM w
         ), f AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         sg AS (SELECT doc_id, s,
           $sigs
           FROM f),
         bd AS (
           $bandSelects
         ), cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bd a JOIN bd b ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
         ), v AS (
           SELECT c.id1, c.id2,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) AS inter,
             CAST(len(x.s) + len(y.s) AS DOUBLE)
               - CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) AS uni
           FROM cand c JOIN f x ON x.doc_id = c.id1 JOIN f y ON y.doc_id = c.id2
         )
         SELECT id1, id2,
           round(CASE WHEN uni = 0.0 THEN 1.0 ELSE inter / uni END, 9) AS jaccard
         FROM v
         WHERE (CASE WHEN uni = 0.0 THEN 1.0 ELSE inter / uni END) >= $threshold
         ORDER BY id1, id2"""
  }

  /** DuckDB replay of the md5-tier INCREMENTAL intake (q_dedup_incr_md5):
    * same fixture as q_dedup_incr_near (history = the whole corpus, batch
    * = edited copies of docs < 40 plus genuinely fresh docs) through the
    * bipartite band-match + exact-Jaccard verify. The Spark side probes a
    * [[graft.pipeline.Dedup.minhashLedgerMd5]] without re-shingling
    * history; this oracle regenerates both sides from scratch. */
  private def incrNearDupMd5Oracle(numHashes: Int, bands: Int,
                                   threshold: Double,
                                   maxBucket: Int = 1000): String =
    bipartiteMd5Oracle(
      """SELECT 'h' AS side, CAST(doc_id AS BIGINT) AS doc_id, text
           FROM documents WHERE doc_id % 5 = 0
           UNION ALL
           SELECT 'n', CAST(doc_id AS BIGINT) + 500000, text || ' zz yy xx'
           FROM documents WHERE doc_id < 40
           UNION ALL
           SELECT 'n', CAST(doc_id AS BIGINT) + 600000,
             'totally fresh unrelated words ' || CAST(doc_id AS VARCHAR)
           FROM documents WHERE doc_id < 10""",
      numHashes, bands, threshold, maxBucket)

  private def simhashMd5Oracle(maxHamming: Int): String = {
    def half(h: String, w: String) = (0 until 32).map { b =>
      s"(CASE WHEN sum(cnt * ((($h >> $b) & 1) * 2 - 1)) > 0 THEN (1::BIGINT << $b) ELSE 0 END)"
    }.mkString(s"\n             + ") + s" AS $w"
    s"""WITH d AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text
           FROM documents WHERE doc_id < 50
         ), w AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
           FROM d
         ), tf AS (
           SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
           FROM w GROUP BY doc_id, tok
         ), th AS (
           SELECT doc_id, cnt,
             CAST(('0x' || substr(md5('sh1:' || tok), 1, 8)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5('sh2:' || tok), 1, 8)) AS BIGINT) AS h2
           FROM tf
         ), sg AS (
           SELECT doc_id,
             ${half("h1", "w1")},
             ${half("h2", "w2")}
           FROM th GROUP BY doc_id
         ), bd AS (
           SELECT doc_id, w1, w2, 0 AS q, w1 & 65535 AS qh FROM sg
           UNION ALL
           SELECT doc_id, w1, w2, 1, (w1 >> 16) & 65535 FROM sg
           UNION ALL
           SELECT doc_id, w1, w2, 2, w2 & 65535 FROM sg
           UNION ALL
           SELECT doc_id, w1, w2, 3, (w2 >> 16) & 65535 FROM sg
         ), cand AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
             a.w1 AS aw1, a.w2 AS aw2, b.w1 AS bw1, b.w2 AS bw2
           FROM bd a JOIN bd b ON a.q = b.q AND a.qh = b.qh
             AND a.doc_id < b.doc_id
         )
         SELECT id1, id2,
           CAST(bit_count(xor(aw1, bw1)) + bit_count(xor(aw2, bw2)) AS BIGINT)
             AS hamming
         FROM cand
         WHERE bit_count(xor(aw1, bw1)) + bit_count(xor(aw2, bw2)) <= $maxHamming
         ORDER BY id1, id2"""
  }

  val queries: Seq[Q] = Seq(
    // ---- incremental intake dedup: a new batch (fresh docs + re-keyed
    //      copies of already-admitted content) anti-joined against the
    //      historical fingerprint ledger — only genuinely novel content
    //      survives, and history is never re-scanned as text
    Q("q_dedup_incremental", (s, dir) => {
      val docs = T(s, dir, "documents")
      val history = docs.warpFilter(col("doc_id") < 250)
      val ledger = graft.pipeline.Dedup.fingerprintLedger(history, "text", "doc_id")
      val batch = docs.warpFilter(col("doc_id") >= 250)
        .warpUnion(docs.warpFilter(col("doc_id") < 50)
          .calculate(Seq("doc_id" -> (col("doc_id") + 300000))))
      graft.pipeline.Dedup.incrementalExact(batch, "text", "doc_id", ledger)
        .selectColumns(Seq("doc_id", "dupes"))
        .orderBy("doc_id")
    }, Sql("""WITH batch AS (
           SELECT doc_id, text FROM documents WHERE doc_id >= 250
           UNION ALL
           SELECT doc_id + 300000, text FROM documents WHERE doc_id < 50
         ), dd AS (
           SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dupes, text
           FROM batch GROUP BY text
         )
         SELECT doc_id, dupes FROM dd
         WHERE NOT EXISTS (SELECT 1 FROM documents h
                           WHERE h.doc_id < 250 AND h.text = dd.text)
         ORDER BY doc_id""")),

    // ---- exact dedup on content hash
    Q("q_dedup_exact", (s, dir) => {
      // plant exact duplicates: docs 0-49 appear again under new ids
      val docs = T(s, dir, "documents")
      val dupes = docs.warpFilter(col("doc_id") < 50)
        .calculate(Seq("doc_id" -> (col("doc_id") + 100000)))
      graft.pipeline.Dedup.exact(docs.warpUnion(dupes), "text", "doc_id")
        .orderBy("doc_id")
    }, Sql("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dupes FROM (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
         ) GROUP BY text ORDER BY doc_id""")),

    // ---- sub-document span dedup (keep-first repeated-span removal)
    Q("q_dedup_spans", (s, dir) => {
      // plant span repeats: docs 0-24 re-appear as new docs whose text is
      // their first 20 words TWICE — for docs with >= 20 words the planted
      // chunks align with the originals' first two spans, exercising both
      // cross-document and within-document keep-first drops
      val docs = T(s, dir, "documents")
      val head20 = array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 20), " ")
      val planted = docs.warpFilter(col("doc_id") < 25).calculate(Seq(
        "doc_id" -> (col("doc_id") + 200000),
        "text" -> concat_ws(" ", head20, head20)))
      graft.pipeline.Dedup.dedupSpans(docs.warpUnion(planted), "text", "doc_id", 10)
        .orderBy("doc_id")
    }, Sql("""WITH base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000,
                  array_to_string(w[1:20], ' ') || ' ' || array_to_string(w[1:20], ' ')
           FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS w
                 FROM documents WHERE doc_id < 25)
         ), words AS (
           -- empty tokens dropped pre-window; NULL/whitespace-only text
           -- yields ZERO spans (mirrors Dedup.spans)
           SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               w -> len(w) > 0) AS ws
           FROM base
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
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(span, ' ' ORDER BY pos) AS text_dedup
           FROM keep WHERE rn = 1 GROUP BY doc_id
         ), tot AS (
           SELECT doc_id,
             CAST(CASE WHEN ws IS NULL OR len(ws) = 0 THEN 0
                  ELSE ((len(ws) - 1) // 10) + 1 END AS INT) AS n_spans
           FROM words
         )
         SELECT t.doc_id, t.n_spans,
                CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                coalesce(a.text_dedup, '') AS text_dedup
         FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""")),

    // ---- MinHash LSH near-dup pairs (no SQL oracle: xxhash64-based)
    Q("q_dedup_minhash", (s, dir) => {
      val docs = T(s, dir, "documents")
      // plant near-duplicates: docs 0-49 with a few words appended
      val near = docs.warpFilter(col("doc_id") < 50).calculate(Seq(
        "doc_id" -> (col("doc_id") + 100000),
        "text" -> concat(col("text"), lit(" zz yy xx"))))
      graft.pipeline.Dedup.minhashPairs(docs.warpUnion(near), "text", "doc_id",
        shingleSize = 5, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
        .orderBy("id1", "id2")
    },
      NoOracle("xxhash64-seeded MinHash signatures; hash-exact twin q_dedup_minhash_md5")),

    // ---- incremental near-dup intake: new batch (edited copies of
    //      history + genuinely new docs) probed against the persisted
    //      minhash ledger — history is never re-shingled (no SQL oracle:
    //      hash-seeded, like the other minhash ops)
    Q("q_dedup_incr_near", (s, dir) => {
      val docs = T(s, dir, "documents")
      val ledger = graft.pipeline.Dedup.minhashLedger(
        docs, "text", "doc_id", shingleSize = 5, numHashes = 64, bands = 16)
      val batch = docs.warpFilter(col("doc_id") < 40).calculate(Seq(
          "doc_id" -> (col("doc_id") + 500000),
          "text" -> concat(col("text"), lit(" zz yy xx"))))
        .warpUnion(docs.warpFilter(col("doc_id") < 10).calculate(Seq(
          "doc_id" -> (col("doc_id") + 600000),
          "text" -> concat(lit("totally fresh unrelated words "), col("doc_id").cast("string")))))
      graft.pipeline.Dedup.incrementalNearDup(batch, "text", "doc_id", ledger,
        shingleSize = 5, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
        .orderBy("new_id", "hist_id")
    },
      NoOracle("probes the xxhash64-seeded MinHash ledger; hash-exact twin q_dedup_incr_md5")),

    // ---- md5-tier hash-exact twin of the incremental intake (VERDICT
    //      r11 item 8): the same batch-vs-ledger probe over engine-
    //      replayable md5 signatures, so the incremental path gets a
    //      REAL oracle gate like q_dedup_minhash_md5 gives the batch path
    Q("q_dedup_incr_md5", (s, dir) => {
      // md5-tier GAUGE sizing discipline (same as q_dedup_minhash_md5):
      // the md5 tier pays one md5 per (hash x shingle), so the gauge
      // history is a 1-in-5 slice — the production twin q_dedup_incr_near
      // runs the one-pass kernel over the full corpus
      val docs = T(s, dir, "documents")
      val hist = docs.warpFilter(col("doc_id") % 5 === 0)
      val ledger = graft.pipeline.Dedup.minhashLedgerMd5(
        hist, "text", "doc_id", shingleSize = 3, numHashes = 16, bands = 4)
      val batch = docs.warpFilter(col("doc_id") < 40).calculate(Seq(
          "doc_id" -> (col("doc_id") + 500000),
          "text" -> concat(col("text"), lit(" zz yy xx"))))
        .warpUnion(docs.warpFilter(col("doc_id") < 10).calculate(Seq(
          "doc_id" -> (col("doc_id") + 600000),
          "text" -> concat(lit("totally fresh unrelated words "), col("doc_id").cast("string")))))
      graft.pipeline.Dedup.incrementalNearDupMd5(batch, "text", "doc_id", ledger,
        shingleSize = 3, numHashes = 16, bands = 4, jaccardThreshold = 0.5)
        .orderBy("new_id", "hist_id")
    }, Sql(incrNearDupMd5Oracle(16, 4, 0.5))),

    // ---- SimHash near-dup pairs (no SQL oracle)
    Q("q_dedup_simhash", (s, dir) => {
      val docs = T(s, dir, "documents")
      val near = docs.warpFilter(col("doc_id") < 50).calculate(Seq(
        "doc_id" -> (col("doc_id") + 100000),
        "text" -> concat(col("text"), lit(" zz"))))
      graft.pipeline.Dedup.simhashPairs(docs.warpUnion(near), "text", "doc_id", maxHamming = 3)
        .orderBy("id1", "id2")
    },
      NoOracle("xxhash64-seeded SimHash signatures; hash-exact twin q_dedup_simhash_md5")),

    // ---- exact n-gram (trigram) Jaccard pairs — the no-hash dedup
    //      baseline, fully SQL-expressible so it carries a REAL oracle
    //      (unlike the seeded minhash/simhash variants). Quadratic per
    //      blocking set by design: it is the small-data / verification
    //      path; the LSH variants are the 100 TB path.
    Q("q_dedup_jaccard", (s, dir) => {
      val docs = T(s, dir, "documents").warpFilter(col("doc_id") % 50 === 0)
      val near = docs.calculate(Seq(
        "doc_id" -> (col("doc_id") + 1000000),
        "text" -> concat(col("text"), lit(" nearly identical content"))))
      graft.pipeline.Dedup.ngramJaccardPairs(docs.warpUnion(near),
        "text", "doc_id", shingleSize = 3, threshold = 0.5)
        .orderBy("id1", "id2")
    }, Sql("""WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text || ' nearly identical content' AS text
           FROM documents WHERE doc_id % 50 = 0
         ), w AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws FROM d
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ws) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')))
               ELSE list_distinct([array_to_string(ws, ' ')]) END AS s
           FROM w
         )
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.5
         ORDER BY 1, 2""")),

    // ---- contrastive triplet mining: best exact near-dup as the
    //      positive, md5-bucket non-dups as negatives (anti-joined
    //      against the FULL exact pair set so no secret near-dup
    //      poisons the loss) — the embedding-training data constructor
    Q("q_contrastive", (s, dir) => {
      val docs = T(s, dir, "documents").warpFilter(col("doc_id") % 7 === 0)
      val near = docs.calculate(Seq(
        "doc_id" -> (col("doc_id") + 1000000),
        "text" -> concat(col("text"), lit(" extra trailing words appended"))))
      // buckets pinned to 16: the oracle's md5 modulus is a literal, and
      // the gauge corpus is small enough that auto-sizing would floor to
      // 16 anyway — pinning keeps the construct (and hashes) explicit
      graft.pipeline.Preference.contrastiveTriplets(docs.warpUnion(near),
        "text", "doc_id", threshold = 0.6, kNeg = 3, buckets = 16)
        .orderBy("anchor_id", "neg_rank")
    }, Sql("""WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
                  text || ' extra trailing words appended' AS text
           FROM documents WHERE doc_id % 7 = 0
         ), w AS (
           SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               t -> len(t) > 0)) AS s
           FROM d
         ), nz AS (
           SELECT doc_id, s FROM w WHERE len(s) > 0
         ), pr AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                 AS DOUBLE) AS j
           FROM nz a JOIN nz b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                 AS DOUBLE) >= 0.6
         ), sym AS (
           SELECT id1 AS anchor_id, id2 AS other, j FROM pr
           UNION ALL SELECT id2, id1, j FROM pr
         ), best AS (
           SELECT anchor_id, other AS pos_id, j AS jaccard FROM (
             SELECT *, row_number() OVER (PARTITION BY anchor_id
               ORDER BY j DESC, other ASC) AS rn FROM sym)
           WHERE rn = 1
         ), cand AS (
           SELECT doc_id AS neg_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 16 AS bk
           FROM d
         ), pro AS (
           SELECT b.anchor_id, b.pos_id, b.jaccard, c.neg_id
           FROM best b JOIN cand c
             ON CAST(('0x' || substr(md5(CAST(b.anchor_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 16 = c.bk
           WHERE c.neg_id <> b.anchor_id AND c.neg_id <> b.pos_id
             AND NOT EXISTS (SELECT 1 FROM sym s
               WHERE s.anchor_id = b.anchor_id AND s.other = c.neg_id)
         ), rk AS (
           SELECT anchor_id, pos_id, jaccard, neg_id,
             CAST(row_number() OVER (PARTITION BY anchor_id
               ORDER BY md5(CAST(anchor_id AS VARCHAR) || ':'
                 || CAST(neg_id AS VARCHAR)), neg_id) AS INT) AS neg_rank
           FROM pro
         )
         SELECT anchor_id, pos_id, jaccard, neg_id, neg_rank
         FROM rk WHERE neg_rank <= 3
         ORDER BY anchor_id, neg_rank""")),

    // ---- EXACT containment join (|A∩B|/|A| ≥ t): the asymmetric
    //      sub-document dedup measure — truncations and quote-heavy
    //      derivations that symmetric Jaccard misses. Planted fixture:
    //      word-level half-truncations of sampled docs (token sets are
    //      strict subsets -> containment exactly 1.0)
    Q("q_containment", (s, dir) => {
      val docs = T(s, dir, "documents").warpFilter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("text"))
      val toksArr = split(trim(lower(col("text"))), "\\s+")
      val trunc = docs.select((col("doc_id") + 3000000).as("doc_id"),
        array_join(slice(toksArr, lit(1), (size(toksArr) / 2).cast("int")), " ")
          .as("text"))
      graft.pipeline.Dedup.containmentJoin(docs.unionByName(trunc),
        "text", "doc_id", threshold = 0.8)
        .orderBy("id_a", "id_b")
    }, Sql("""WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0
         ), tr AS (
           SELECT doc_id + 3000000 AS doc_id,
             array_to_string(
               (regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'))
                 [1:len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) // 2],
               ' ') AS text
           FROM base
         ), d AS (
           SELECT doc_id, text FROM base
           UNION ALL SELECT doc_id, text FROM tr
         ), w AS (
           SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               t -> len(t) > 0)) AS s
           FROM d
         ), nz AS (
           SELECT doc_id, s FROM w WHERE len(s) > 0
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) AS DOUBLE) AS containment
         FROM nz a JOIN nz b ON a.doc_id <> b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) AS DOUBLE) >= 0.8
         ORDER BY 1, 2""")),

    // ---- truncation cleanup over the containment join: every doc >= 90%
    //      contained in a strictly larger doc drops (ties keep the
    //      smallest id) — emits the KEPT ids with their char counts
    Q("q_drop_contained", (s, dir) => {
      val docs = T(s, dir, "documents").warpFilter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("text"))
      val toksArr = split(trim(lower(col("text"))), "\\s+")
      val trunc = docs.select((col("doc_id") + 3000000).as("doc_id"),
        array_join(slice(toksArr, lit(1), (size(toksArr) / 2).cast("int")), " ")
          .as("text"))
      graft.pipeline.Dedup.dropContained(docs.unionByName(trunc),
          "text", "doc_id", threshold = 0.9)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }, Sql("""WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0
         ), tr AS (
           SELECT doc_id + 3000000 AS doc_id,
             array_to_string(
               (regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'))
                 [1:len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) // 2],
               ' ') AS text
           FROM base
         ), d AS (
           SELECT doc_id, text FROM base
           UNION ALL SELECT doc_id, text FROM tr
         ), w AS (
           SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               t -> len(t) > 0)) AS s
           FROM d
         ), nz AS (
           SELECT doc_id, s FROM w WHERE len(s) > 0
         ), drops AS (
           SELECT DISTINCT a.doc_id AS id
           FROM nz a JOIN nz b ON a.doc_id <> b.doc_id
           WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / CAST(len(a.s) AS DOUBLE) >= 0.9
             AND (len(b.s) > len(a.s)
                  OR (len(b.s) = len(a.s) AND b.doc_id < a.doc_id))
         )
         SELECT doc_id, CAST(length(text) AS INT) AS n_chars FROM d
         WHERE doc_id NOT IN (SELECT id FROM drops)
         ORDER BY doc_id""")),

    // ---- EXACT near-dup intake screen (probe vs corpus through the
    //      prefix-filter machinery): provably-complete cross-side pairs —
    //      what the banded-minhash ledger tier trades away. Oracle =
    //      independent all-pairs cross-side ground truth
    Q("q_dedup_ppjoin_screen", (s, dir) => {
      val docs = T(s, dir, "documents")
      val corpus = docs.warpFilter(col("doc_id") % 3 === 0)
      val probes = docs.warpFilter(col("doc_id") % 3 === 1)
        .warpUnion(docs.warpFilter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
          .calculate(Seq(
            "doc_id" -> (col("doc_id") + 2000000),
            "text" -> concat(col("text"), lit(" probe trailing suffix")))))
      graft.pipeline.Dedup.prefixJaccardScreen(corpus, probes,
        "text", "doc_id", threshold = 0.6)
        .orderBy("probe_id", "corpus_id")
    }, Sql("""WITH c AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         ), p AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id,
                  text || ' probe trailing suffix' AS text
           FROM documents WHERE doc_id % 3 = 0 AND doc_id % 5 = 0
         ), wc AS (
           SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               t -> len(t) > 0)) AS s
           FROM c
         ), wp AS (
           SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               t -> len(t) > 0)) AS s
           FROM p
         ), nc AS (SELECT doc_id, s FROM wc WHERE len(s) > 0),
         np AS (SELECT doc_id, s FROM wp WHERE len(s) > 0)
         SELECT a.doc_id AS probe_id, b.doc_id AS corpus_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
               AS DOUBLE) AS jaccard
         FROM np a JOIN nc b ON true
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
               AS DOUBLE) >= 0.6
         ORDER BY 1, 2""")),

    // ---- prefix-filtered EXACT Jaccard self-join (SSJoin/PPJoin family):
    //      exact like q_dedup_jaccard (provably no false negatives — the
    //      oracle is the independent all-pairs ground truth) but WITHOUT
    //      the cross product: candidates come only from rare-first prefix
    //      token collisions, the 100 TB-safe exact-similarity-join shape
    Q("q_dedup_ppjoin", (s, dir) => {
      val docs = T(s, dir, "documents").warpFilter(col("doc_id") % 7 === 0)
      val near = docs.calculate(Seq(
        "doc_id" -> (col("doc_id") + 1000000),
        "text" -> concat(col("text"), lit(" extra trailing words appended"))))
      graft.pipeline.Dedup.prefixJaccardJoin(docs.warpUnion(near),
        "text", "doc_id", threshold = 0.6)
        .orderBy("id1", "id2")
    },
      // ground truth for the prefix-filtered join is the INDEPENDENT
      // all-pairs jaccard — the oracle shares no candidate machinery with
      // the Spark side, so it checks exactness (no false negatives), not
      // just agreement
      Sql("""WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id,
                  text || ' extra trailing words appended' AS text
           FROM documents WHERE doc_id % 7 = 0
         ), w AS (
           SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
               t -> len(t) > 0)) AS s
           FROM d
         ), nz AS (
           SELECT doc_id, s FROM w WHERE len(s) > 0
         )
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.6
         ORDER BY 1, 2""")),

    // ---- md5-tier SimHash pairs: the pigeonhole-quarter signature-dedup
    //      shape (signatures -> quarter-block join -> Hamming verify)
    //      through the PRODUCTION pair machinery (signaturePairs), with
    //      md5-derived token hashes so signatures, quarters, and Hamming
    //      all replay in the DuckDB oracle (the seeded kernel tier stays
    //      rows-only; this is its hash-exact gauge twin)
    Q("q_dedup_simhash_md5", (s, dir) => {
      val docs = T(s, dir, "documents")
      val near = docs.warpFilter(col("doc_id") < 50).calculate(Seq(
        "doc_id" -> (col("doc_id") + 100000),
        "text" -> concat(col("text"), lit(" zz"))))
      graft.pipeline.Dedup.signaturePairs(
        graft.pipeline.Dedup.simhashMd5Sigs(docs.warpUnion(near),
          "text", "doc_id"),
        maxHamming = 3)
        .orderBy("id1", "id2")
    }, Sql(simhashMd5Oracle(3))),

    // ---- md5-tier MinHash LSH pairs: the banded-LSH pipeline shape
    //      (signatures -> band-bucket join -> exact-Jaccard verify) with
    //      md5-derived hash functions, so the WHOLE path — band keys
    //      included — replays in the DuckDB oracle (the seeded kernel tier
    //      stays rows-only; this is its hash-exact gauge twin)
    Q("q_dedup_minhash_md5", (s, dir) => {
      val docs = T(s, dir, "documents").warpFilter(col("doc_id") % 50 === 0)
      val near = docs.calculate(Seq(
        "doc_id" -> (col("doc_id") + 1000000),
        "text" -> concat(col("text"), lit(" nearly identical content"))))
      graft.pipeline.Dedup.minhashPairsMd5(docs.warpUnion(near),
        "text", "doc_id", shingleSize = 3, numHashes = 16, bands = 4,
        jaccardThreshold = 0.5)
        .orderBy("id1", "id2")
    }, Sql(minhashMd5Oracle(16, 4, 0.5))),

    // ---- banded-Levenshtein fuzzy pairs over a 48-char key (edit
    //      distance over full documents is not a 100 TB operation; the
    //      length-band blocking is COMPLETE for the threshold, so a plain
    //      quadratic SQL oracle verifies it exactly)
    Q("q_dedup_fuzzy", (s, dir) => {
      val keyed = T(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 48).as("k"))
      graft.pipeline.Dedup.fuzzyPairs(keyed, "k", "doc_id", maxDist = 4)
        .orderBy("id1", "id2")
    }, Sql("""WITH k AS (
           SELECT doc_id, substr(text, 1, 48) AS k FROM documents
         )
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(levenshtein(a.k, b.k) AS INT) AS dist
         FROM k a JOIN k b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.k, b.k) <= 4
         ORDER BY 1, 2""")),

    // ---- Bloom-gated cross-corpus dedup: flag incoming docs already in
    //      a historical corpus. The two corpora are overlapping md5-bucket
    //      slices (the q_split recipe) — a re-crawled batch partially
    //      overlapping yesterday's ingest. The Bloom gate runs map-side;
    //      only gate survivors reach the exact (hash, length) semi-join,
    //      so the result is exact and the oracle is plain EXISTS.
    Q("q_dedup_bloom", (s, dir) => {
      val docs = T(s, dir, "documents")
      val bk = graft.pipeline.Sampling.hashBucket(col("doc_id"), 100)
      graft.pipeline.Dedup.crossDupes(
        docs.warpFilter(bk < 60), docs.warpFilter(bk >= 30),
        "text", "doc_id", expectedItems = 100000)
        .selectColumns(Seq("doc_id", "source"))
        .orderBy("doc_id")
    }, Sql("""WITH b AS (
           SELECT doc_id, source, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bk
           FROM documents
         )
         SELECT i.doc_id, i.source FROM b i
         WHERE i.bk < 60
           AND EXISTS (SELECT 1 FROM b r WHERE r.bk >= 30 AND r.text = i.text)
         ORDER BY doc_id""")),

    // ---- train/test contamination: docs in the train split sharing >= 2
    //      distinct trigrams with any doc in the held-out split (n=3 fits
    //      these short synthetic docs; real corpora use the published
    //      n=13). Gram HASHES cross the shuffle, never gram strings.
    Q("q_contamination", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.pipeline.Dedup.contamination(
        docs.warpFilter(col("doc_id") % 10 =!= 7),
        docs.warpFilter(col("doc_id") % 10 === 7),
        "text", "doc_id", n = 3, minOverlap = 2)
        .orderBy("doc_id", "probe_id")
    }, Sql("""WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ws) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')))
               ELSE list_distinct([array_to_string(ws, ' ')]) END AS s
           FROM w
         ), corpus AS (
           SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 7
         ), probe AS (
           SELECT doc_id AS probe_id, unnest(s) AS g FROM sh WHERE doc_id % 10 = 7
         )
         SELECT c.doc_id, p.probe_id, count(*) AS overlap
         FROM corpus c JOIN probe p USING (g)
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY doc_id, probe_id""")),

    // ---- n-gram novelty vs the reference corpus: the memorization-risk
    //      gauge (share of a doc's distinct trigrams absent from the
    //      reference) — the inverse of the contamination screen
    Q("q_novelty", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.pipeline.Dedup.noveltyScore(
        docs.warpFilter(col("doc_id") % 10 === 7),
        docs.warpFilter(col("doc_id") % 10 =!= 7),
        "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }, Sql("""WITH w AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS ws FROM documents
         ), sh AS (
           SELECT doc_id,
             CASE WHEN len(ws) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')))
               ELSE list_distinct([array_to_string(ws, ' ')]) END AS s
           FROM w
         ), ref AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 <> 7
         ), d AS (
           SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 = 7
         ), t AS (
           SELECT doc_id, count(*) AS total_ngrams FROM d GROUP BY doc_id
         ), sn AS (
           SELECT d.doc_id, count(*) AS seen FROM d JOIN ref USING (g) GROUP BY d.doc_id
         )
         SELECT t.doc_id, t.total_ngrams, coalesce(sn.seen, 0) AS seen,
           CASE WHEN t.total_ngrams > 0 THEN
             1.0 - CAST(coalesce(sn.seen, 0) AS DOUBLE) / CAST(t.total_ngrams AS DOUBLE)
           END AS novelty
         FROM t LEFT JOIN sn ON t.doc_id = sn.doc_id
         ORDER BY t.doc_id""")),

    // ---- duplicate-cluster size histogram: unique mass vs the dedup
    //      tail — the sizing report before any dedup run; docs 0-24
    //      planted twice and doc 0 three times so sizes 2 and 3 appear
    Q("q_dup_histogram", (s, dir) => {
      val docs = T(s, dir, "documents")
      val planted = docs.warpFilter(col("doc_id") < 25)
        .calculate(Seq("doc_id" -> (col("doc_id") + 500000)))
      val tripled = docs.warpFilter(col("doc_id") === 0)
        .calculate(Seq("doc_id" -> (col("doc_id") + 600000)))
      graft.pipeline.Dedup.dupHistogram(
          docs.warpUnion(planted).warpUnion(tripled), "text")
        .orderBy("cluster_size")
    }, Sql("""WITH ad AS (
           SELECT text FROM documents
           UNION ALL
           SELECT text FROM documents WHERE doc_id < 25
           UNION ALL
           SELECT text FROM documents WHERE doc_id = 0),
         f AS (
           SELECT md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp,
             count(*) AS sz
           FROM ad WHERE text IS NOT NULL GROUP BY 1)
         SELECT sz AS cluster_size, count(*) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs
         FROM f GROUP BY sz ORDER BY cluster_size""")),

    // ---- cross-source duplication matrix: distinct fingerprints shared
    //      per source pair + fingerprint-set Jaccard (mirror/scrape
    //      detection before mixture weighting); docs 0-24 re-tagged under
    //      a 'mirror' source so the pair machinery is exercised
    Q("q_source_overlap", (s, dir) => {
      val docs = T(s, dir, "documents")
      val planted = docs.warpFilter(col("doc_id") < 25)
        .calculate(Seq("doc_id" -> (col("doc_id") + 400000),
          "source" -> lit("mirror")))
      graft.pipeline.Dedup.sourceOverlap(
          docs.warpUnion(planted), "text", "source")
        .orderBy("src_a", "src_b")
    }, Sql("""WITH ad AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT 'mirror' AS source, text FROM documents WHERE doc_id < 25),
         f AS (
           SELECT DISTINCT source AS g,
             md5(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS fp
           FROM ad WHERE source IS NOT NULL AND text IS NOT NULL),
         n AS (SELECT g, count(*) AS n FROM f GROUP BY g),
         pr AS (
           SELECT a.g AS sa, b.g AS sb, count(*) AS shared
           FROM f a JOIN f b ON a.fp = b.fp AND a.g < b.g
           GROUP BY a.g, b.g)
         SELECT pr.sa AS src_a, pr.sb AS src_b, pr.shared,
           na.n AS n_a, nb.n AS n_b,
           round(CAST(pr.shared AS DOUBLE)
             / CAST(na.n + nb.n - pr.shared AS DOUBLE), 9) AS jaccard
         FROM pr JOIN n na ON na.g = pr.sa JOIN n nb ON nb.g = pr.sb
         ORDER BY src_a, src_b""")),

    // ---- duplicate-cluster resolution: connected components over a
    //      deterministic chain graph (doc i ~ i+1 within each decade).
    //      Chains are the WORST case for label propagation, so the oracle
    //      (a recursive CTE) genuinely checks multi-round convergence, not
    //      just clique collapsing.
    Q("q_dedup_clusters", (s, dir) => {
      graft.pipeline.Dedup.connectedComponents(chainEdges(T(s, dir, "documents")))
        .orderBy("id")
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
         )
         SELECT id, min(lab) AS cluster FROM reach GROUP BY id ORDER BY id""")),

    // ---- near-dedup canonicalization: pairs -> components -> keep the
    //      minimum id per cluster, pass untouched rows through
    Q("q_dedup_canon", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.pipeline.Dedup.dedupByPairs(docs, "doc_id", chainEdges(docs))
        .selectColumns(Seq("doc_id", "n_chars"))
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
         )
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster)
         ORDER BY doc_id""")),

    // ---- keep-best canonicalization: same components, but the winner is
    //      the member with the most characters (tie -> lowest id) — the
    //      production policy (keep the best copy, not an arbitrary one)
    Q("q_dedup_keepbest", (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.pipeline.Dedup.dedupByPairsBest(docs, "doc_id", chainEdges(docs), "n_chars")
        .selectColumns(Seq("doc_id", "n_chars"))
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
         ), memb AS (
           SELECT cc.id, cc.cluster, d.n_chars AS p
           FROM cc JOIN documents d ON d.doc_id = cc.id
         ), win AS (
           SELECT id FROM (
             SELECT id, row_number() OVER (
               PARTITION BY cluster ORDER BY p DESC NULLS LAST, id) AS rn
             FROM memb) WHERE rn = 1
         )
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id FROM cc)
            OR doc_id IN (SELECT id FROM win)
         ORDER BY doc_id"""))
  )
}
