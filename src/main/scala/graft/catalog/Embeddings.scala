package graft
package catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import graft.pipeline.Materialize
import Shared._

/** Vector retrieval: brute, quantized, LSH, IVF and PQ top-k, kNN
  * graphs, the persisted indexes, recall gauges, BM25 and hybrid search. */
object Embeddings {
  /** A similarity probe's query VECTOR is an input (a real deployment
    * receives it with the request); these queries derive it from the
    * corpus only to stay deterministic. It is a session fixture —
    * re-running the derivation scan per probe invocation would charge every
    * probe one fixture job that no deployed probe pays. */
  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    fixture(s, dir, "embeddings", "query_vec")(
      T(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0))

  // ===== persisted similarity indexes ======================================
  // The whole point of a sketch/IVF index is AMORTIZATION: build once, query
  // many times. The build cost is timed explicitly by the q_embed_*_build
  // entries (oracle-checked: the index row count equals the corpus count);
  // q_embed_lsh / q_embed_ivf then measure only the probe against the
  // persisted index — the number a user sees per query in steady state.

  /** Sketch width of the persisted LSH index: 256 bits = four longs; a
    * pair-gate is then 4 XOR + POPCNT. Width chosen empirically: this
    * corpus is weakly clustered (true top-10 neighbors sit at cosine
    * ~0.28-0.60), and at 64 bits the neighbor/noise Hamming distributions
    * overlap so much that recall 0.9 admits ~40% of all pairs; at 256
    * bits recall ~0.95 passes only ~12% (measured at sf0.1). */
  val LshBits = 256

  /** Hamming gate matching [[LshBits]]: 112/256 = recall ~0.95 on true
    * top-10 with ~12% of random pairs passing (measured at sf0.1;
    * recall pinned in PipelineSpec). */
  val LshMaxHamming = 112

  /** Gauge-tier LSH params for `q_embed_recall_lsh`: 64 md5-derived
    * planes fit one packed word (the oracle XOR+bit_counts a single
    * BIGINT), and 28/64 mirrors the production 112/256 gate ratio. */
  private val RecallLshBits = 64
  private val RecallLshMaxHamming = 28

  /** Gauge-tier IVF params for `q_embed_recall_ivf`: the q_kmeans cell
    * count, probing 2 of 8 cells (a quarter of the corpus scored). */
  private val RecallIvfCells = 8
  private val RecallIvfProbe = 2

  /** Gauge-tier PQ params for `q_embed_recall_pq`: 4 subspaces × 8-entry
    * codebooks (16 dims each on the 64-dim corpus), one deterministic
    * Lloyd round per codebook — 3-bit-per-subspace compression whose
    * reconstruction the oracle replays via four kmeans CTE chains. */
  private val RecallPqSubspaces = 4
  private val RecallPqCodebook = 8

  /** The persisted LSH index: a session fixture. */
  private def ensureLshIndex(s: SparkSession, dir: String): String =
    fixtureDir(s, dir, "embeddings", "lsh_index")(d =>
      graft.pipeline.Similarity.lshWriteIndex(T(s, dir, "embeddings"), "embedding",
        nBits = LshBits, dim = queryVec(s, dir).length, s"$d/idx")) + "/idx"

  /** The persisted IVF index (centroids beside it): a session fixture. */
  private def ensureIvfIndex(s: SparkSession, dir: String): String =
    fixtureDir(s, dir, "embeddings", "ivf_index")(d =>
      graft.pipeline.Similarity.ivfWriteIndex(T(s, dir, "embeddings"), "embedding",
        "vec_id", nCells = 16, s"$d/idx")) + "/idx"

  /** The persisted PQ index (codebooks beside it): a session fixture. */
  private def ensurePqIndex(s: SparkSession, dir: String): String =
    fixtureDir(s, dir, "embeddings", "pq_index") { d =>
      val emb = T(s, dir, "embeddings")
      val books = graft.pipeline.Similarity.pqTrain(emb, "embedding", "vec_id",
        m = 8, k = 256)
      graft.pipeline.Similarity.pqWriteIndex(emb, "embedding", "vec_id", books, s"$d/idx")
    } + "/idx"

  /** The persisted IVF-PQ index (centroids and codebooks beside it): a
    * session fixture. */
  private def ensureIvfPqIndex(s: SparkSession, dir: String): String =
    fixtureDir(s, dir, "embeddings", "ivfpq_index")(d =>
      graft.pipeline.Similarity.ivfPqWriteIndex(T(s, dir, "embeddings"), "embedding",
        "vec_id", nCells = 16, m = 8, k = 256, s"$d/idx")) + "/idx"

  /** Amortization hook: build every persisted index once (Bench calls this
    * untimed before the query loop, mirroring a warehouse's index job). */
  def prepareIndexes(s: SparkSession, dir: String): Unit = {
    ensureLshIndex(s, dir)
    ensureIvfIndex(s, dir)
    ensurePqIndex(s, dir)
    ensureIvfPqIndex(s, dir)
  }

  /** An index's IVF centroid table: the centroids ARE the in-memory half
    * of the index (16 cells × dim floats) — a deployment loads them once at
    * startup, not once per probe. Memoized per session and index path. */
  private def ivfCentroids(s: SparkSession, path: String): Array[Seq[Float]] =
    Materialize.session(s).memo("ivf_centroids", path)(
      graft.pipeline.Similarity.ivfReadCentroids(s, path))

  /** An index's PQ codebooks, the in-memory half of the PQ index: loaded
    * once per session and index path, as [[ivfCentroids]]. */
  private def pqBooks(s: SparkSession, path: String): Array[Array[Array[Double]]] =
    Materialize.session(s).memo("pq_codebooks", path)(
      graft.pipeline.Similarity.pqReadCodebooks(s, path))

  /** Shared recall-gauge tail: hits/total per exact-side query (the
    * q_embed_recall_q8 join, reused by the LSH/IVF gauges). Expects CTEs
    * `ex(qid, id)` (exact top-k) and `ap(qid, id)` (approx top-k). */
  private val recallTailSql: String =
    """h AS (SELECT ex.qid, count(*) AS hits FROM ex
           JOIN ap ON ex.qid = ap.qid AND ex.id = ap.id GROUP BY ex.qid),
         t AS (SELECT qid, count(*) AS total FROM ex GROUP BY qid)
       SELECT t.qid, coalesce(h.hits, 0) AS hits, t.total,
         CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(t.total AS DOUBLE) AS recall
       FROM t LEFT JOIN h ON t.qid = h.qid ORDER BY t.qid"""

  /** DuckDB oracle for the matryoshka-truncation gauge
    * (q_embed_recall_trunc): exact cosine top-k over the first half of
    * every embedding vs the full-dimension exact graph, then the recall
    * join. No seeds anywhere — both graphs are deterministic. */
  private def recallTruncOracle(nQueries: Int, k: Int): String =
    s"""WITH dims AS (SELECT len(embedding) // 2 AS m FROM embeddings LIMIT 1),
         b AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         tb AS (SELECT vec_id, emb2,
           sqrt(list_reduce(list_transform(emb2,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM (SELECT e.vec_id, e.embedding[1:dims.m] AS emb2
               FROM embeddings e, dims)),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.embedding, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM b d, b q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $k),
         ap AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.emb2, q.emb2),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM tb d, tb q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $k),
         $recallTailSql"""

  /** DuckDB oracle replaying the md5-hyperplane LSH retrieval of
    * q_embed_recall_lsh end-to-end: regenerate the planes from md5
    * ([[graft.pipeline.Similarity.hyperplanesMd5]]'s exact formula), sign
    * sketches via the same left-fold dots, Hamming-gate with the packed
    * word split into two 32-bit halves (DuckDB's BIGINT shift rejects bit
    * 63; Hamming is split-invariant), cosine top-k among survivors, then
    * the recall join against the exact graph. */
  private def recallLshOracle(nBits: Int, maxHamming: Int, nQueries: Int,
                              k: Int): String =
    s"""WITH b AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.embedding, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM b d, b q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $k),
         pl AS (SELECT bb, list(w ORDER BY dd) AS pw FROM (
           SELECT bb, dd,
             CAST(('0x' || substr(md5('lshp:' || bb || ':' || dd), 1, 8)) AS BIGINT)
               / 4294967296.0 * 2.0 - 1.0 AS w
           FROM (SELECT unnest(range(0, $nBits)) AS bb),
                (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings
                   LIMIT 1))) AS dd))
          GROUP BY bb),
         sk AS (SELECT vec_id,
             CAST(sum(CASE WHEN dot > 0.0 AND bb < 32
               THEN 1::BIGINT << bb ELSE 0 END) AS BIGINT) AS w1,
             CAST(sum(CASE WHEN dot > 0.0 AND bb >= 32
               THEN 1::BIGINT << (bb - 32) ELSE 0 END) AS BIGINT) AS w2
           FROM (
             SELECT e.vec_id, p.bb,
               list_reduce(list_transform(list_zip(e.embedding, p.pw),
                 pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, v) -> acc + v) AS dot
             FROM embeddings e, pl p)
           GROUP BY vec_id),
         ap AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.embedding, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM b d JOIN sk sd ON sd.vec_id = d.vec_id
                JOIN b q ON d.vec_id <> q.vec_id AND q.vec_id < $nQueries
                JOIN sk sq ON sq.vec_id = q.vec_id
           WHERE bit_count(xor(sd.w1, sq.w1)) + bit_count(xor(sd.w2, sq.w2))
             <= $maxHamming)
          WHERE rn <= $k),
         $recallTailSql"""

  /** DuckDB oracle replaying the deterministic-cell IVF retrieval of
    * q_embed_recall_ivf: the kmeansCtes final cells + centroids, each
    * query's nProbe best cells by fold-cosine (ties to the lower cell),
    * cosine top-k among probed-cell candidates, then the recall join
    * against the exact graph. */
  private def recallIvfOracle(kCells: Int, iters: Int, nProbe: Int,
                              nQueries: Int, k: Int): String =
    s"""${kmeansCtes(kCells, iters)},
         bq AS (SELECT vec_id, v, sqrt(n2) AS nv FROM e WHERE vec_id < $nQueries),
         crp AS (SELECT a.vec_id, a.v, a.cl, sqrt(e.n2) AS nv
           FROM afin a JOIN e ON e.vec_id = a.vec_id),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.v, q.v),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (sqrt(d.n2) * sqrt(q.n2)) DESC, d.vec_id) AS rn
           FROM e d, e q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $k),
         qc AS (SELECT qid, cl FROM (
           SELECT q.vec_id AS qid, c.cl,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(q.v, c.c),
                 pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, v) -> acc + v)
               / (q.nv * sqrt(list_reduce(list_transform(c.c, x -> x * x),
                   (acc, v) -> acc + v))) DESC, c.cl) AS rn
           FROM bq q, c$iters c) WHERE rn <= $nProbe),
         ap AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.v, q.v),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM crp d JOIN qc ON d.cl = qc.cl
                JOIN bq q ON q.vec_id = qc.qid
           WHERE d.vec_id <> q.vec_id)
          WHERE rn <= $k),
         $recallTailSql"""

  /** DuckDB oracle replaying q_retrieval_ndcg: the recallIvfOracle
    * retrieval CTEs with the approx side keeping its rank, then MRR +
    * binary nDCG@k with the SAME 12-rounded discount table
    * [[graft.pipeline.Retrieval.dcgDiscounts]] injects on the Spark
    * side — decimal-summed DCG, so no float fold order or libm log2
    * reaches the compare. */
  private def ivfNdcgOracle(kCells: Int, iters: Int, nProbe: Int,
                            nQueries: Int, k: Int): String = {
    val disc = graft.pipeline.Retrieval.dcgDiscounts(k).map(dlit).mkString(", ")
    val ideal = graft.pipeline.Retrieval.dcgIdeal(k).map(dlit).mkString(", ")
    s"""${kmeansCtes(kCells, iters)},
         bq AS (SELECT vec_id, v, sqrt(n2) AS nv FROM e WHERE vec_id < $nQueries),
         crp AS (SELECT a.vec_id, a.v, a.cl, sqrt(e.n2) AS nv
           FROM afin a JOIN e ON e.vec_id = a.vec_id),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.v, q.v),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (sqrt(d.n2) * sqrt(q.n2)) DESC, d.vec_id) AS rn
           FROM e d, e q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $k),
         qc AS (SELECT qid, cl FROM (
           SELECT q.vec_id AS qid, c.cl,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(q.v, c.c),
                 pr -> CAST(pr[1] AS DOUBLE) * pr[2]), (acc, v) -> acc + v)
               / (q.nv * sqrt(list_reduce(list_transform(c.c, x -> x * x),
                   (acc, v) -> acc + v))) DESC, c.cl) AS rn
           FROM bq q, c$iters c) WHERE rn <= $nProbe),
         ap AS (SELECT qid, id, rn FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.v, q.v),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM crp d JOIN qc ON d.cl = qc.cl
                JOIN bq q ON q.vec_id = qc.qid
           WHERE d.vec_id <> q.vec_id)
          WHERE rn <= $k),
         dt AS (SELECT [$disc] AS dl, [$ideal] AS il),
         hit AS (SELECT a.qid, a.rn FROM ap a
           JOIN ex e ON a.qid = e.qid AND a.id = e.id),
         mm AS (SELECT h.qid, min(h.rn) AS minrn,
             CAST(sum(CAST(dt.dl[h.rn] AS DECIMAL(28,12))) AS DOUBLE) AS dcg
           FROM hit h, dt GROUP BY h.qid),
         tt AS (SELECT qid, count(*) AS total FROM ex GROUP BY qid)
         SELECT tt.qid, tt.total,
           round(coalesce(1.0 / mm.minrn, 0.0), 9) AS mrr,
           round(coalesce(mm.dcg, 0.0) / dt.il[least(tt.total, $k)], 9) AS ndcg
         FROM tt LEFT JOIN mm ON tt.qid = mm.qid, dt ORDER BY tt.qid"""
  }

  /** DuckDB oracle replaying the deterministic-PQ retrieval of
    * q_embed_recall_pq: one kmeans CTE chain per subspace (the q_kmeans
    * arithmetic over `embedding[a:b]` slices), reconstruction by
    * centroid concat, the q8 dequantized-retrieval ranking, then the
    * recall join against the exact graph. Subspace bounds assume the
    * corpus dim (64) like every dim-dependent oracle here. */
  private def recallPqOracle(m: Int, sub: Int, k: Int, iters: Int,
                             nQueries: Int, topK: Int): String = {
    val chains = (0 until m).map { si =>
      kmeansCtesFor(k, iters, s"embedding[${si * sub + 1}:${(si + 1) * sub}]",
        "", s"e$si", s"p${si}c", s"p${si}a", s"p${si}m", s"fin$si")
    }.mkString(",\n         ")
    val joins = (0 until m).map { si =>
      (if (si == 0) s"FROM fin0 a0 "
       else s"JOIN fin$si a$si ON a$si.vec_id = a0.vec_id ") +
        s"JOIN p${si}c$iters cc$si ON cc$si.cl = a$si.cl"
    }.mkString("\n           ")
    val dv = (1 until m).foldLeft("cc0.c") {
      (acc, si) => s"list_concat($acc, cc$si.c)"
    }
    s"""WITH $chains,
         dq AS MATERIALIZED (
           SELECT a0.vec_id, $dv AS dv
           $joins),
         d2 AS (SELECT vec_id, dv,
             sqrt(list_reduce(list_transform(dv, x -> x * x),
               (acc, v) -> acc + v)) AS nv
           FROM dq),
         b AS (SELECT vec_id, embedding,
             sqrt(list_reduce(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, v) -> acc + v)) AS nv
           FROM embeddings),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.embedding, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM b d, b q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $topK),
         ap AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.dv, q.embedding),
                 pr -> pr[1] * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM d2 d, b q WHERE d.vec_id <> q.vec_id AND q.vec_id < $nQueries)
          WHERE rn <= $topK),
         $recallTailSql"""
  }

  /** DuckDB oracle for q_bm25, mirroring
    * [[graft.pipeline.Retrieval.bm25TopK]] shape-for-shape (same operator
    * tree, same decimal quantization of each term's contribution). */
  private def bm25Oracle(terms: Seq[String], k: Int, k1: Double, b: Double): String = {
    val toks = "string_split_regex(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')"
    val tfs = terms.indices.map(i =>
      s"CAST(len(list_filter($toks, w -> w = '${terms(i)}')) AS DOUBLE) AS tf$i").mkString(",\n           ")
    val dfs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(", ")
    val contribs = terms.indices.map { i =>
      val idf = s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5))"
      val denom = s"(tf$i + ${dlit(k1)} * (${dlit(1.0 - b)} + ${dlit(b)} * dl / (sumdl / n)))"
      s"CAST(CASE WHEN tf$i > 0 THEN $idf * (tf$i * ${dlit(k1 + 1.0)}) / $denom ELSE 0.0 END AS DECIMAL(28,12))"
    }.mkString("\n           + ")
    val anyHit = terms.indices.map(i => s"tf$i").mkString(" + ") + " > 0"
    s"""WITH f AS (
         SELECT doc_id,
           CAST(len($toks) AS DOUBLE) AS dl,
           $tfs
         FROM documents
       ), st AS (
         SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl, $dfs
         FROM f
       )
       SELECT doc_id,
         round(CAST(CAST($contribs AS VARCHAR) AS DOUBLE), 6) AS bm25
       FROM f, st WHERE $anyHit
       ORDER BY bm25 DESC, doc_id LIMIT $k"""
  }

  val queries: Seq[Q] = Seq(
    // ---- embedding-space decontamination: corpus vectors within tau
    //      cosine of any held-out probe — catches paraphrased benchmark
    //      leakage that shares no n-grams with the probe text; probes
    //      broadcast (eval sets are small), corpus scans once, exact and
    //      seedless so the oracle replays it bit-for-bit
    Q("q_contamination_embed", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.pipeline.Similarity.semanticContamination(
        emb.warpFilter(col("vec_id") % 50 =!= 0),
        emb.warpFilter(col("vec_id") % 50 === 0),
        "embedding", "vec_id", "vec_id", tau = 0.35)
        .orderBy("id", "probe_id")
    }, Sql("""WITH c AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings WHERE vec_id % 50 <> 0),
         p AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings WHERE vec_id % 50 = 0),
         s AS (SELECT c.vec_id AS id, p.vec_id AS probe_id,
           list_reduce(list_transform(list_zip(c.embedding, p.embedding),
             pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
             (acc, v) -> acc + v) / (c.nv * p.nv) AS cosine
         FROM c, p)
       SELECT id, probe_id, cosine FROM s
       WHERE cosine >= CAST('0.35' AS DOUBLE)
       ORDER BY id, probe_id""")),

    // ---- BM25 ranked retrieval against a keyword query (Lucene idf form):
    //      in-domain selection / curation sweeps. No token explode: per-doc
    //      (dl, tf) in one codegen'd projection, one broadcast stats row,
    //      TakeOrderedAndProject top-k. Exact oracle via the lmScore
    //      decimal-quantized-contribution recipe.
    Q("q_bm25", (s, dir) => {
      graft.pipeline.Retrieval.bm25TopK(T(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "merge", "vector"), k = 15)
    }, Sql(bm25Oracle(Seq("spark", "merge", "vector"), 15, 1.2, 0.75))),

    // ---- hybrid search: reciprocal-rank fusion of the BM25 run and the
    //      vector top-k run — both runs and the fusion arithmetic are
    //      deterministic, so the composed oracle replays end-to-end
    Q("q_hybrid_search", (s, dir) => {
      val bm = graft.pipeline.Retrieval.bm25TopK(T(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "merge", "vector"), k = 15)
      val vec = graft.pipeline.Similarity.bruteTopK(T(s, dir, "embeddings"),
        "embedding", "vec_id", queryVec(s, dir), 20)
      graft.pipeline.Retrieval.rrfFuse(
        Seq((bm, "doc_id", "bm25"), (vec, "vec_id", "cosine")))
    }, Sql(s"""WITH bm AS (${bm25Oracle(Seq("spark", "merge", "vector"), 15, 1.2, 0.75)}),
         vec AS (
           WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             d AS (SELECT vec_id,
                 list_reduce(list_transform(list_zip(embedding, qv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v) AS dot,
                 list_reduce(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v) AS n2,
                 list_reduce(list_transform(qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v) AS qn2
               FROM embeddings, q)
           SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cosine
           FROM d ORDER BY cosine DESC, vec_id LIMIT 20),
         r1 AS (SELECT doc_id AS id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
         r2 AS (SELECT vec_id AS id,
             row_number() OVER (ORDER BY cosine DESC, vec_id) AS r FROM vec),
         u AS (
           SELECT id, CAST(1.0 / (60.0 + CAST(r AS DOUBLE)) AS DECIMAL(30,15)) AS c FROM r1
           UNION ALL
           SELECT id, CAST(1.0 / (60.0 + CAST(r AS DOUBLE)) AS DECIMAL(30,15)) FROM r2),
         f AS (SELECT id, CAST(CAST(sum(c) AS VARCHAR) AS DOUBLE) AS rrf,
             count(*) AS runs_hit FROM u GROUP BY id)
       SELECT id, rrf, runs_hit FROM f ORDER BY rrf DESC, id LIMIT 20""")),

    // ---- matryoshka-truncation retrieval gauge: recall@10 of exact kNN
    //      over the FIRST HALF of each embedding vs the full-dimension
    //      exact graph — the "how much retrieval do cheaper truncated
    //      embeddings buy" curve, fully deterministic (no seeds; cosine
    //      ranking is renorm-invariant, so the slice alone suffices)
    Q("q_embed_recall_trunc", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val m = emb.select("embedding").head().getSeq[Any](0).length / 2
      val tr = emb.select(col("vec_id"),
        slice(col("embedding"), 1, m).as("embedding"))
      val exact = graft.pipeline.Similarity.knnGraphGemm(
        emb, "embedding", "vec_id", 10,
        queries = Some(emb.filter(col("vec_id") < 64)))
      val approx = graft.pipeline.Similarity.knnGraphGemm(
        tr, "embedding", "vec_id", 10,
        queries = Some(tr.filter(col("vec_id") < 64)))
      graft.pipeline.Similarity.recallReport(exact, approx)
        .warpSort(Seq(Order(col("qid"))))
    }, Sql(recallTruncOracle(64, 10))),

    // ---- brute-force cosine top-k over embeddings (exact-decimal dot)
    Q("q_embed_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.pipeline.Similarity.bruteTopK(emb, "embedding", "vec_id",
        queryVec(s, dir), 20)
    }, Sql("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            d AS (SELECT vec_id,
                    list_reduce(list_transform(list_zip(embedding, qv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v) AS dot,
                    list_reduce(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v) AS n2,
                    list_reduce(list_transform(qv,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v) AS qn2
                  FROM embeddings, q)
         SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cosine
         FROM d ORDER BY cosine DESC, vec_id LIMIT 20""")),

    // ---- PQ index BUILD: train sampled codebooks, encode the corpus,
    //      persist both (32x smaller than the float corpus)
    Q("q_embed_pq_build", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val path = s"${Materialize.session(s).tempDir("pq_build")}/idx"
      val books = graft.pipeline.Similarity.pqTrain(emb, "embedding", "vec_id",
        m = 8, k = 256)
      graft.pipeline.Similarity.pqWriteIndex(emb, "embedding", "vec_id", books, path)
      s.read.parquet(path).agg(count(lit(1)).as("n"))
    }, Sql("SELECT COUNT(*) AS n FROM embeddings")),

    // ---- product-quantized top-k PROBE over the persisted index (no SQL
    //      oracle: xxhash64-sampled codebooks; recall pinned in
    //      PipelineSpec). The probe reads codes + norms only — never a
    //      float vector; scoring = m table lookups + one divide per row
    Q("q_embed_pq", (s, dir) => {
      val path = ensurePqIndex(s, dir)
      graft.pipeline.Similarity.pqReadTopK(s, path, pqBooks(s, path),
        "vec_id", queryVec(s, dir), 20)
    },
      NoOracle("xxhash64-sampled PQ codebooks; quality gated by q_embed_recall_pq")),

    // ---- IVF-PQ index BUILD: cell-partitioned AND PQ-encoded — the
    //      billion-scale composition (probe I/O = nProbe/nCells of the
    //      files x 1/32 of the bytes)
    Q("q_embed_ivfpq_build", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val path = s"${Materialize.session(s).tempDir("ivfpq_build")}/idx"
      graft.pipeline.Similarity.ivfPqWriteIndex(emb, "embedding", "vec_id",
        nCells = 16, m = 8, k = 256, path)
      s.read.parquet(path).agg(count(lit(1)).as("n"))
    }, Sql("SELECT COUNT(*) AS n FROM embeddings")),

    // ---- IVF-PQ probe (no SQL oracle: seeded sample; recall pinned in
    //      PipelineSpec): partition-prune to 4/16 cells, ADC-score codes —
    //      no float vector is ever read
    Q("q_embed_ivfpq", (s, dir) => {
      val path = ensureIvfPqIndex(s, dir)
      graft.pipeline.Similarity.ivfPqReadTopK(s, path,
        ivfCentroids(s, path), pqBooks(s, path),
        "vec_id", queryVec(s, dir), 20, nProbe = 4)
    },
      NoOracle("seeded IVF cells and PQ codebooks; quality gated by q_embed_recall_ivf and q_embed_recall_pq")),

    // ---- int8 scalar quantization of the embedding corpus (exact oracle:
    //      the affine code arithmetic is order-fixed double math). The code
    //      vector is emitted as an md5 over its comma-joined decimal form so
    //      every output column is scalar-sortable by the comparator.
    Q("q_embed_quantize", (s, dir) => {
      graft.pipeline.Similarity.quantizeInt8(T(s, dir, "embeddings"),
          "embedding", "vec_id")
        .select(col("vec_id"), col("q_lo"), col("q_scale"),
          md5(concat_ws(",", transform(col("q_codes"), x => x.cast("string"))))
            .as("q_codes_md5"))
        .warpSort(Seq(Order(col("vec_id"))))
    }, Sql("""WITH s AS (
           SELECT vec_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS q_lo,
             (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0
               AS q_scale
           FROM embeddings
         ), c AS (
           SELECT vec_id, q_lo, q_scale,
             CASE WHEN q_scale > 0.0 THEN list_transform(embedding, x ->
               least(255, greatest(0, CAST(floor((CAST(x AS DOUBLE) - q_lo) / q_scale) AS INT))))
             ELSE list_transform(embedding, x -> 0) END AS q_codes
           FROM s
         )
         SELECT vec_id, q_lo, q_scale,
           md5(array_to_string(list_transform(q_codes, x -> CAST(x AS VARCHAR)), ',')) AS q_codes_md5
         FROM c ORDER BY vec_id""")),

    // ---- asymmetric quantized top-k (codes never reconstructed per-dim;
    //      one kernel dot + stored-sum scalar arithmetic per row)
    Q("q_embed_topk_q8", (s, dir) => {
      val q8 = graft.pipeline.Similarity.quantizeInt8(T(s, dir, "embeddings"),
        "embedding", "vec_id")
      graft.pipeline.Similarity.topKQuantized(q8, "vec_id", queryVec(s, dir), 20)
    }, Sql("""WITH s AS (
           SELECT vec_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS q_lo,
             (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0
               AS q_scale
           FROM embeddings
         ), c AS (
           SELECT vec_id, q_lo, q_scale,
             CASE WHEN q_scale > 0.0 THEN list_transform(embedding, x ->
               least(255, greatest(0, CAST(floor((CAST(x AS DOUBLE) - q_lo) / q_scale) AS INT))))
             ELSE list_transform(embedding, x -> 0) END AS q_codes
           FROM s
         ), q AS (
           SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qd
           FROM embeddings WHERE vec_id = 0
         ), qc AS (
           SELECT qd, len(qd) AS dim,
             list_reduce(qd, (acc, v) -> acc + v) AS sumq,
             sqrt(list_reduce(list_transform(qd, x -> x * x), (acc, v) -> acc + v)) AS normq
           FROM q
         ), d AS (
           SELECT c.vec_id, c.q_lo, c.q_scale, qc.sumq, qc.normq, qc.dim,
             list_reduce(list_transform(list_zip(c.q_codes, qc.qd),
               p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, v) -> acc + v) AS dotcq,
             list_reduce(list_transform(c.q_codes, x -> CAST(x AS DOUBLE)),
               (acc, v) -> acc + v) AS csum,
             list_reduce(list_transform(c.q_codes, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, v) -> acc + v) AS csum2
           FROM c, qc
         )
         SELECT vec_id,
           (q_lo * sumq + q_scale * dotcq) /
           (sqrt(CAST(dim AS DOUBLE) * q_lo * q_lo + 2.0 * q_lo * q_scale * csum +
                 q_scale * q_scale * csum2) * normq) AS cosine_q8
         FROM d ORDER BY cosine_q8 DESC, vec_id LIMIT 20""")),

    // ---- HARD-NEGATIVE band scan (exact oracle: same fold-order dot
    //      arithmetic as q_embed_topk, plus a band filter): "close but
    //      not a duplicate" vectors for contrastive training. The IVF
    //      variant is the partition-pruned scale path (rows-only: index
    //      cells are build-seeded; band-subset law pinned in
    //      PipelineSpec).
    Q("q_embed_band", (s, dir) => {
      graft.pipeline.Similarity.bandScan(T(s, dir, "embeddings"),
        "embedding", "vec_id", queryVec(s, dir), lo = 0.1, hi = 0.5)
    }, Sql("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            d AS (SELECT vec_id,
                    list_reduce(list_transform(list_zip(embedding, qv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v) AS dot,
                    list_reduce(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v) AS n2,
                    list_reduce(list_transform(qv,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v) AS qn2
                  FROM embeddings, q)
         SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cosine
         FROM d WHERE dot / (sqrt(n2) * sqrt(qn2)) >= 0.1
           AND dot / (sqrt(n2) * sqrt(qn2)) < 0.5
         ORDER BY cosine DESC, vec_id""")),
    Q("q_embed_band_ivf", (s, dir) => {
      val path = ensureIvfIndex(s, dir)
      graft.pipeline.Similarity.ivfBandScan(s, path, ivfCentroids(s, path),
        "embedding", "vec_id", queryVec(s, dir), lo = 0.1, hi = 0.5, nProbe = 8)
    },
      NoOracle("IVF centroids are sampled engine-locally; quality gated by q_embed_recall_ivf")),

    // ---- embedding-cosine near-dup pairs (no SQL oracle: hyperplane-
    //      seeded; recall pinned in PipelineSpec on planted duplicates)
    Q("q_dedup_embed", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      // plant near-duplicates: vectors 0-24 re-appear with a tiny nudge
      val near = emb.warpFilter(col("vec_id") < 25).calculate(Seq(
        "vec_id" -> (col("vec_id") + 1000000),
        "embedding" -> transform(col("embedding"), v => v * lit(1.0001f))))
      // dim passed explicitly: omitting it makes embeddingPairs probe the
      // dimensionality with a driver-side head()
      graft.pipeline.Dedup.embeddingPairs(emb.warpUnion(near),
        "embedding", "vec_id", cosineThreshold = 0.99, dim = queryVec(s, dir).length)
        .orderBy("id1", "id2")
    },
      NoOracle("hyperplane-seeded LSH pairs; recall pinned in PipelineSpec")),

    // ---- LSH sketch index BUILD (timed separately: amortized over every
    //      later probe; oracle = index row count equals corpus count)
    Q("q_embed_lsh_build", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val path = s"${Materialize.session(s).tempDir("lsh_build")}/idx"
      graft.pipeline.Similarity.lshWriteIndex(emb, "embedding",
        nBits = LshBits, dim = queryVec(s, dir).length, path)
      s.read.parquet(path).agg(count(lit(1)).as("n"))
    }, Sql("SELECT COUNT(*) AS n FROM embeddings")),

    // ---- LSH-bucketed cosine top-k PROBE over the persisted sketch
    //      index — one table read; the stored sketches gate candidates
    //      with per-word XOR+POPCNT before any dot product, so only ~12%
    //      of the corpus pays a cosine. At this SF per-job fixed cost
    //      dominates; the algorithmic win of the same index shows in
    //      q_embed_knn_lsh vs q_embed_knn, where pair count is 4M
    //      (rows-only check: hyperplanes are engine-local)
    Q("q_embed_lsh", (s, dir) => {
      val path = ensureLshIndex(s, dir)
      val idx = s.read.parquet(path)
      graft.pipeline.Similarity.lshTopKIndexed(idx, "embedding", "vec_id",
        queryVec(s, dir), 20, nBits = LshBits, maxHamming = LshMaxHamming)
    },
      NoOracle("hyperplanes are seeded engine-locally; quality gated by q_embed_recall_lsh")),

    // ---- kNN graph, exact: every vector's top-10 neighbors by cosine —
    //      the all-pairs workload where index amortization actually shows
    Q("q_embed_knn", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.pipeline.Similarity.knnGraphBrute(emb, "embedding", "vec_id", 10)
        .orderBy("qid", "id")
    }, Sql("""WITH b AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         p AS (SELECT q.vec_id AS qid, d.vec_id AS id,
             list_reduce(list_transform(list_zip(d.embedding, q.embedding),
               pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
               (acc, v) -> acc + v) / (d.nv * q.nv) AS cosine
           FROM b d, b q WHERE d.vec_id <> q.vec_id),
         r AS (SELECT qid, id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rn
           FROM p)
         SELECT qid, id, cosine FROM r WHERE rn <= 10 ORDER BY qid, id""")),

    // ---- EXACT kNN graph via per-partition dgemm blocks + exact-fold
    //      candidate re-scoring: same answer (and the same oracle) as
    //      q_embed_knn without the 400M-iteration codegen loop and its
    //      profile-compilation warmup cliff
    Q("q_embed_knn_gemm", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.pipeline.Similarity.knnGraphGemm(emb, "embedding", "vec_id", 10)
        .orderBy("qid", "id")
    }, Sql("""WITH b AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         p AS (SELECT q.vec_id AS qid, d.vec_id AS id,
             list_reduce(list_transform(list_zip(d.embedding, q.embedding),
               pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
               (acc, v) -> acc + v) / (d.nv * q.nv) AS cosine
           FROM b d, b q WHERE d.vec_id <> q.vec_id),
         r AS (SELECT qid, id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rn
           FROM p)
         SELECT qid, id, cosine FROM r WHERE rn <= 10 ORDER BY qid, id""")),

    // ---- recall@10 of int8-quantized retrieval vs the exact kNN graph:
    //      the index-quality gauge, with BOTH sides seedless so the whole
    //      evaluation — quantize, dequantize, two top-k's, the recall
    //      join — is replayed exactly by the DuckDB oracle.
    Q("q_embed_recall_q8", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val exact = graft.pipeline.Similarity.knnGraphGemm(emb, "embedding", "vec_id", 10)
      val deq = graft.pipeline.Similarity.quantizeInt8(emb, "embedding", "vec_id")
        .select(col("vec_id"), transform(col("q_codes"),
          c => col("q_lo") + col("q_scale") * c.cast("double")).as("embedding"))
      // both sides ride the dgemm path: the approx (dequantized-double)
      // corpus works because the gemm graph widens per element exactly
      // where the dot kernel does — same oracle, no 400M-pair codegen loop
      val approx = graft.pipeline.Similarity.knnGraphGemm(
        deq, "embedding", "vec_id", 10, queries = Some(emb))
      graft.pipeline.Similarity.recallReport(exact, approx)
        .warpSort(Seq(Order(col("qid"))))
    }, Sql("""WITH b AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.embedding, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM b d, b q WHERE d.vec_id <> q.vec_id) WHERE rn <= 10),
         qz AS (SELECT vec_id, embedding,
           CAST(list_min(embedding) AS DOUBLE) AS q_lo,
           (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0
             AS q_scale
         FROM embeddings),
         cz AS (SELECT vec_id, q_lo, q_scale,
           CASE WHEN q_scale > 0.0 THEN list_transform(embedding, x ->
             least(255, greatest(0, CAST(floor((CAST(x AS DOUBLE) - q_lo) / q_scale) AS INT))))
           ELSE list_transform(embedding, x -> 0) END AS q_codes
         FROM qz),
         dq AS (SELECT vec_id,
           list_transform(q_codes, c -> q_lo + q_scale * CAST(c AS DOUBLE)) AS dv
         FROM cz),
         d2 AS (SELECT vec_id, dv,
           sqrt(list_reduce(list_transform(dv, x -> x * x), (acc, v) -> acc + v)) AS nv
         FROM dq),
         ap AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.dv, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM d2 d, b q WHERE d.vec_id <> q.vec_id) WHERE rn <= 10),
         h AS (SELECT ex.qid, count(*) AS hits FROM ex
           JOIN ap ON ex.qid = ap.qid AND ex.id = ap.id GROUP BY ex.qid),
         t AS (SELECT qid, count(*) AS total FROM ex GROUP BY qid)
       SELECT t.qid, coalesce(h.hits, 0) AS hits, t.total,
         CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(t.total AS DOUBLE) AS recall
       FROM t LEFT JOIN h ON t.qid = h.qid ORDER BY t.qid""")),

    // ---- recall@10 of sketch-gated LSH retrieval vs the exact kNN graph:
    //      the gauge runs on the ENGINE-REPLAYABLE md5-derived hyperplane
    //      tier (hyperplanesMd5), so sketches, Hamming gate, top-k and the
    //      recall join all replay exactly in the DuckDB oracle — the
    //      determinate quality gate for the LSH path (the production
    //      256-bit seeded index stays rows-only)
    Q("q_embed_recall_lsh", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val planes = graft.pipeline.Similarity.hyperplanesMd5(
        emb.select("embedding").head().getSeq[Any](0).length, RecallLshBits)
      val idx = emb.withColumn(
        graft.pipeline.Similarity.skColName("embedding"),
        graft.pipeline.Similarity.sketch(col("embedding"), planes))
      val exact = graft.pipeline.Similarity.knnGraphGemm(
        emb, "embedding", "vec_id", 10,
        queries = Some(emb.filter(col("vec_id") < 64)))
      val approx = graft.pipeline.Similarity.knnGraphSketch(
        idx, "embedding", "vec_id", 10, maxHamming = RecallLshMaxHamming,
        queries = Some(idx.filter(col("vec_id") < 64)))
      graft.pipeline.Similarity.recallReport(exact, approx)
        .warpSort(Seq(Order(col("qid"))))
    }, Sql(recallLshOracle(RecallLshBits, RecallLshMaxHamming, 64, 10))),

    // ---- recall@10 of IVF cell-probed retrieval vs the exact kNN graph:
    //      cells come from the DETERMINISTIC k-means fit (kmeansFit — the
    //      q_kmeans arithmetic), so cell ranking, probe join, top-k and
    //      the recall join replay exactly in the DuckDB oracle — the
    //      determinate quality gate for the IVF path (the seeded-sample
    //      ivfIndex tier stays rows-only)
    Q("q_embed_recall_ivf", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (asg, cents) = graft.pipeline.Cluster.kmeansFit(
        emb, "embedding", "vec_id", k = RecallIvfCells, iters = 2)
      val assigned = emb.select(col("vec_id"), col("embedding"))
        .join(asg.select(col("vec_id"), col("cluster").as("__cell")), "vec_id")
      val queries = emb.filter(col("vec_id") < 64)
      val exact = graft.pipeline.Similarity.knnGraphGemm(
        emb, "embedding", "vec_id", 10, queries = Some(queries))
      val approx = graft.pipeline.Similarity.knnGraphIvfExact(
        assigned, cents, "embedding", "vec_id", 10, nProbe = RecallIvfProbe,
        queries = queries)
      graft.pipeline.Similarity.recallReport(exact, approx)
        .warpSort(Seq(Order(col("qid"))))
    }, Sql(recallIvfOracle(RecallIvfCells, 2, RecallIvfProbe, 64, 10))),

    // ---- rank-sensitive retrieval quality: per-query MRR + binary
    //      nDCG@10 of the deterministic IVF retrieval vs the exact graph —
    //      the recall gauge's rank-aware companion; discounts come from a
    //      shared 12-rounded table so no libm log2 reaches the hash
    Q("q_retrieval_ndcg", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (asg, cents) = graft.pipeline.Cluster.kmeansFit(
        emb, "embedding", "vec_id", k = RecallIvfCells, iters = 2)
      val assigned = emb.select(col("vec_id"), col("embedding"))
        .join(asg.select(col("vec_id"), col("cluster").as("__cell")), "vec_id")
      val queries = emb.filter(col("vec_id") < 64)
      val exact = graft.pipeline.Similarity.knnGraphGemm(
        emb, "embedding", "vec_id", 10, queries = Some(queries))
      val approx = graft.pipeline.Similarity.knnGraphIvfExact(
        assigned, cents, "embedding", "vec_id", 10, nProbe = RecallIvfProbe,
        queries = queries)
      graft.pipeline.Retrieval.rankedEval(exact, approx, 10)
        .warpSort(Seq(Order(col("qid"))))
    }, Sql(ivfNdcgOracle(RecallIvfCells, 2, RecallIvfProbe, 64, 10))),

    // ---- recall@10 of product-quantized retrieval vs the exact kNN
    //      graph: per-subspace codebooks come from the DETERMINISTIC
    //      k-means fit, so codebooks, codes, reconstruction, ranking and
    //      the recall join all replay in the DuckDB oracle (four kmeans
    //      CTE chains + the q8 dequantized-retrieval recipe) — the
    //      determinate quality gate for the PQ path (the seeded ivfpq /
    //      pq index tiers stay rows-only)
    Q("q_embed_recall_pq", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val dim = emb.select("embedding").head().getSeq[Any](0).length
      val m = RecallPqSubspaces
      require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
      val sub = dim / m
      val parts = (0 until m).map { si =>
        val sv = slice(col("embedding"), si * sub + 1, sub)
        val (asg, cents) = graft.pipeline.Cluster.kmeansFit(
          emb.select(col("vec_id"), sv.as("sub")), "sub", "vec_id",
          k = RecallPqCodebook, iters = 1)
        (asg.select(col("vec_id"), col("cluster").as(s"__c$si")), cents)
      }
      val coded = parts.map(_._1).reduce(_.join(_, "vec_id"))
      val deq = parts.zipWithIndex.foldLeft(coded) {
        case (d, ((_, cents), si)) =>
          d.withColumn(s"__d$si",
            element_at(typedLit(cents.map(_.toSeq).toSeq), col(s"__c$si") + 1))
      }.select(col("vec_id"),
        concat((0 until m).map(si => col(s"__d$si")): _*).as("embedding"))
      val queries = emb.filter(col("vec_id") < 64)
      val exact = graft.pipeline.Similarity.knnGraphGemm(
        emb, "embedding", "vec_id", 10, queries = Some(queries))
      val approx = graft.pipeline.Similarity.knnGraphGemm(
        deq, "embedding", "vec_id", 10, queries = Some(queries))
      graft.pipeline.Similarity.recallReport(exact, approx)
        .warpSort(Seq(Order(col("qid"))))
    }, Sql(recallPqOracle(RecallPqSubspaces, 16, RecallPqCodebook, 1, 64, 10))),

    // ---- kNN label transfer: majority label of the 10 exact nearest
    //      labeled neighbors, leave-one-out over the first 64 vectors,
    //      with the known label alongside — semi-supervised labeling AND
    //      its quality gauge in one determinate, fully replayable entry
    Q("q_knn_label", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val pred = graft.pipeline.Similarity.knnLabelTransfer(
        emb, "embedding", "vec_id", "label", 10,
        queries = Some(emb.filter(col("vec_id") < 64)))
      pred.join(emb.select(col("vec_id").cast("long").as("qid"),
          col("label").as("actual_label")), "qid")
        .select(col("qid").as("vec_id"), col("pred_label"), col("votes"),
          col("actual_label"))
        .orderBy("vec_id")
    }, Sql("""WITH b AS (
           SELECT vec_id, label, embedding,
             sqrt(list_reduce(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, v) -> acc + v)) AS nv
           FROM embeddings WHERE label IS NOT NULL
         ), q AS (SELECT * FROM b WHERE vec_id < 64),
         ex AS (SELECT qid, id FROM (
           SELECT q.vec_id AS qid, d.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(d.embedding, q.embedding),
                 pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
                 (acc, v) -> acc + v) / (d.nv * q.nv) DESC, d.vec_id) AS rn
           FROM b d, q WHERE d.vec_id <> q.vec_id)
          WHERE rn <= 10),
         v AS (SELECT ex.qid, l.label AS lab
           FROM ex JOIN b l ON l.vec_id = ex.id),
         c AS (SELECT qid, lab, count(*) AS votes FROM v GROUP BY qid, lab),
         w AS (SELECT qid, lab, votes,
             row_number() OVER (PARTITION BY qid
               ORDER BY votes DESC, lab) AS rn
           FROM c)
         SELECT w.qid AS vec_id, w.lab AS pred_label, w.votes,
           e.label AS actual_label
         FROM w JOIN embeddings e ON e.vec_id = w.qid
         WHERE w.rn = 1 ORDER BY vec_id""")),

    // ---- kNN graph, sketch-gated over the persisted LSH index: ~88% of
    //      the 4M candidate pairs fail the one-call native Hamming gate
    //      before any dot product, and only survivors enter the per-query
    //      top-k shuffle (rows-only check: hyperplane-seeded)
    Q("q_embed_knn_lsh", (s, dir) => {
      val path = ensureLshIndex(s, dir)
      graft.pipeline.Similarity.knnGraphSketch(
        s.read.parquet(path), "embedding", "vec_id", 10,
        maxHamming = LshMaxHamming)
        .orderBy("qid", "id")
    },
      NoOracle("hyperplanes are seeded engine-locally; quality gated by q_embed_recall_lsh")),

    // ---- BATCH probe pair: 64 query vectors against the corpus — the
    //      regime the LSH index exists for (single-query probes are
    //      fixed-job-cost bound; at 64 queries the per-pair gate savings
    //      dominate). Brute twin is exact (DuckDB-oracled); the gated twin
    //      is rows-only (hyperplane-seeded), recall pinned in PipelineSpec
    Q("q_embed_topk_batch", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.pipeline.Similarity.knnGraphBrute(emb, "embedding", "vec_id", 10,
        queries = Some(emb.filter(col("vec_id") < 64)))
        .orderBy("qid", "id")
    }, Sql("""WITH b AS (SELECT vec_id, embedding,
           sqrt(list_reduce(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)) AS nv
         FROM embeddings),
         p AS (SELECT q.vec_id AS qid, d.vec_id AS id,
             list_reduce(list_transform(list_zip(d.embedding, q.embedding),
               pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)),
               (acc, v) -> acc + v) / (d.nv * q.nv) AS cosine
           FROM b d, b q WHERE d.vec_id <> q.vec_id AND q.vec_id < 64),
         r AS (SELECT qid, id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rn
           FROM p)
         SELECT qid, id, cosine FROM r WHERE rn <= 10 ORDER BY qid, id""")),
    Q("q_embed_lsh_batch", (s, dir) => {
      val path = ensureLshIndex(s, dir)
      val idx = s.read.parquet(path)
      graft.pipeline.Similarity.knnGraphSketch(idx, "embedding", "vec_id", 10,
        maxHamming = LshMaxHamming,
        queries = Some(idx.filter(col("vec_id") < 64)))
        .orderBy("qid", "id")
    },
      NoOracle("hyperplanes are seeded engine-locally; quality gated by q_embed_recall_lsh")),

    // ---- IVF index BUILD: persisted partitioned-by-cell + centroid table
    //      (oracle = index row count equals corpus count)
    Q("q_embed_ivf_build", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val path = s"${Materialize.session(s).tempDir("ivf_build")}/idx"
      graft.pipeline.Similarity.ivfWriteIndex(emb, "embedding", "vec_id",
        nCells = 16, path)
      s.read.parquet(path).agg(count(lit(1)).as("n"))
    }, Sql("SELECT COUNT(*) AS n FROM embeddings")),

    // ---- IVF top-k PROBE: the __cell filter prunes non-probed cells at
    //      the FILE level (rows-only check: centroid sampling engine-local)
    Q("q_embed_ivf", (s, dir) => {
      val path = ensureIvfIndex(s, dir)
      val idx = s.read.parquet(path)
      graft.pipeline.Similarity.ivfTopK(idx, ivfCentroids(s, path),
        "embedding", "vec_id", queryVec(s, dir), 20, nProbe = 4)
    },
      NoOracle("IVF centroids are sampled engine-locally; quality gated by q_embed_recall_ivf")),

    // ---- BATCH kNN over the partitioned IVF index: 64 queries ranked
    //      against the centroid table, broadcast into a cell equi-join —
    //      the corpus never shuffles, only candidates pay a dot product
    //      (rows-only: probe set is centroid-seeded; recall pinned in
    //      PipelineSpec)
    Q("q_embed_ivf_batch", (s, dir) => {
      val path = ensureIvfIndex(s, dir)
      val idx = s.read.parquet(path)
      graft.pipeline.Similarity.knnGraphIvf(idx, ivfCentroids(s, path),
        "embedding", "vec_id", 10, nProbe = 4,
        queries = idx.filter(col("vec_id") < 64))
        .orderBy("qid", "id")
    },
      NoOracle("IVF centroids are sampled engine-locally; quality gated by q_embed_recall_ivf"))
  )
}
