package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Everything here is designed shuffle-first for 100 TB:
  *  - exact dedup groups on a 64-bit content hash, not the raw text, so the
  *    shuffle carries 8-byte keys instead of document bodies;
  *  - MinHash/LSH turns all-pairs O(n²) similarity into per-band bucket
  *    joins — only documents sharing a band bucket ever meet, and band
  *    buckets are exploded so the shuffle key space is uniform;
  *  - SimHash reduces a document to one 64-bit signature whose Hamming
  *    neighborhood is searched by pivoted-prefix blocking.
  *
  * All hashing is xxhash64 (codegen'd Catalyst expression) — no UDFs on
  * the hot path; signatures are computed with higher-order array functions
  * inside whole-stage codegen.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content.
    * Map-side partial aggregation on the 8-byte hash makes this one
    * narrow shuffle; a final equality check guards against (astronomically
    * unlikely) 64-bit collisions by grouping on (hash, length) too. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__len"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dupes"))
      .drop("__h", "__len")

  /** Content-fingerprint LEDGER for incremental intake: one row per
    * distinct content already admitted — the 8-byte hash, the length
    * collision guard, and the first id that claimed it. A corpus that
    * grows by batches must not re-dedup 100 TB of history per batch; it
    * anti-joins each new batch against this (hash, len) table, which is
    * O(distinct contents) small and never carries text. */
  def fingerprintLedger(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("fp_hash"),
               length(col(textCol)).as("fp_len"))
      .agg(min(col(idCol)).as("first_id"))

  /** Incremental exact dedup: the NOVEL rows of `newDocs` — first
    * within-batch (lowest id per content, `dupes` counting the batch's
    * copies), then anti-joined against the historical [[fingerprintLedger]]
    * on the fingerprint pair. Append `fingerprintLedger(novel…)` (or the
    * returned fp columns) to the ledger to admit the batch; the batch twin
    * of the streaming `EventStream.dedupAgainstCorpus`. At warehouse scale
    * the ledger is a bucketed table on fp_hash so the anti-join never
    * shuffles the history side. */
  def incrementalExact(newDocs: DataFrame, textCol: String, idCol: String,
                       ledger: DataFrame): DataFrame = {
    val batch = newDocs
      .groupBy(xxhash64(col(textCol)).as("fp_hash"),
               length(col(textCol)).as("fp_len"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dupes"))
    batch.join(ledger, Seq("fp_hash", "fp_len"), "left_anti")
  }

  /** NEAR-dup ledger: per admitted document its distinct shingle-hash set
    * and LSH band keys — the persisted index an incremental intake
    * anti-checks new batches against ([[incrementalNearDup]]), exactly as
    * [[fingerprintLedger]] does for exact dup. One map pass of the same
    * native kernels as [[minhashPairs]]; text never stored. Parameters
    * (shingleSize, numHashes, bands) are part of the ledger's identity —
    * probe with the same ones (the lshAppendIndex contract). */
  def minhashLedger(df: DataFrame, textCol: String, idCol: String,
                    shingleSize: Int = 5, numHashes: Int = 128,
                    bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import graft.functions.{ShingleHashExpr, MinHashSigExpr, BandHashExpr}
    df.select(col(idCol).as("id"),
        C(ShingleHashExpr(E(col(textCol)), shingleSize)).as("shh"))
      .select(col("id"), col("shh"),
        C(BandHashExpr(E(C(MinHashSigExpr(E(col("shh")), numHashes))), bands)).as("bhs"))
  }

  /** Incremental NEAR-dup check: which new-batch documents are near-dups
    * of ANY historical document — without re-shingling history. The batch
    * runs the same one-pass kernels, band keys join against the ledger's
    * (band, hash) table (history explodes to docs×bands rows — the
    * banded index a warehouse stores bucketed on the band key), and the
    * surviving candidate pairs verify exact Jaccard over the stored
    * shingle-hash sets. Degenerate buckets capped on the history side.
    * Returns (new_id, hist_id, jaccard) above the threshold. */
  def incrementalNearDup(newDocs: DataFrame, textCol: String, idCol: String,
                         ledger: DataFrame, shingleSize: Int = 5,
                         numHashes: Int = 128, bands: Int = 16,
                         jaccardThreshold: Double = 0.8,
                         maxBucket: Int = 1000): DataFrame = {
    // no persist: `batch` appears twice in ONE lazy plan (band explode +
    // shingle-set join), and a session-lifetime cached block per call is a
    // leak; re-running the one-pass kernels over the (small) batch costs
    // less than unreclaimed storage memory on a long-lived pipeline driver
    val batch = minhashLedger(newDocs, textCol, idCol, shingleSize, numHashes, bands)
    ledgerProbe(batch, ledger, jaccardThreshold, maxBucket)
  }

  /** [[incrementalNearDup]]'s md5 tier: the same ledger-probe intake over
    * [[minhashLedgerMd5]] signatures — every stage (band keys, shingle
    * sets, exact Jaccard verify) regenerates in external SQL, giving the
    * incremental path its hash-exact oracle gate (`q_dedup_incr_md5`) the
    * way `q_dedup_minhash_md5` gates the batch path. The `ledger` must be
    * a [[minhashLedgerMd5]] frame built with the SAME shingle/hash/band
    * parameters. Jaccard rounded to 9 like the other md5-tier gauges. */
  def incrementalNearDupMd5(newDocs: DataFrame, textCol: String, idCol: String,
                            ledger: DataFrame, shingleSize: Int = 3,
                            numHashes: Int = 16, bands: Int = 4,
                            jaccardThreshold: Double = 0.5,
                            maxBucket: Int = 1000): DataFrame = {
    val batch = minhashLedgerMd5(newDocs, textCol, idCol, shingleSize, numHashes, bands)
    ledgerProbe(batch, ledger, jaccardThreshold, maxBucket)
      .withColumn("jaccard", round(col("jaccard"), 9))
  }

  /** Shared band-bucket probe of a batch ledger against a history ledger
    * (both `(id, shh, bhs)`): band-key equi-join (history buckets capped),
    * then exact Jaccard over the stored shingle sets — candidates only,
    * never all-pairs, history never re-shingled. */
  private def ledgerProbe(batch: DataFrame, ledger: DataFrame,
                          jaccardThreshold: Double, maxBucket: Int): DataFrame =
    Materialize(batch.sparkSession) { m =>
    // BOTH ledgers feed TWO plan branches each (band probe + shingle-set
    // verify), and a ledger built inline (minhashLedgerMd5: 16 md5 calls
    // per shingle) would otherwise re-run its signature pass once per
    // branch: cache both and pin the small pair result. A caller-persisted
    // ledger (one probed across many micro-batches) keeps its cache.
    val batchP = m.cache(batch)
    val ledgerP = m.cache(ledger)
    def explodeBands(d: DataFrame, out: String) =
      d.select(col("id").as(out), posexplode(col("bhs")))
        .select(col(out), col("pos").as("band"), col("col").as("bh"))
    val hist = explodeBands(ledgerP, "hist_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bh").orderBy("hist_id")))
      .filter(col("rn") <= maxBucket)
      .drop("rn")
    val cands = explodeBands(batchP, "new_id")
      .join(hist, Seq("band", "bh"))
      .select("new_id", "hist_id").dropDuplicates("new_id", "hist_id")
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val uni = (size(col("sh1")) + size(col("sh2"))).cast("double") - inter
    val result = cands
      .join(batchP.select(col("id").as("new_id"), col("shh").as("sh1")), "new_id")
      .join(ledgerP.select(col("id").as("hist_id"), col("shh").as("sh2")), "hist_id")
      .withColumn("jaccard", when(uni === 0.0, 1.0).otherwise(inter / uni))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("new_id", "hist_id", "jaccard")
    m.keep(m.pin(result))
  }

  /** ENGINE-REPLAYABLE MinHash LSH near-dup pairs — the md5 tier of
    * [[minhashPairs]] (the [[Similarity.hyperplanesMd5]] move applied to
    * minhash): hash function i of a shingle s is the first 60 bits of
    * md5("i:s"), signatures and band keys are plain built-in transforms,
    * and candidate pairs verify exact Jaccard over the distinct shingle
    * sets — every stage, band keys included, regenerates in external SQL,
    * which is what makes `q_dedup_minhash_md5` a hash-exact oracle gate
    * for the banded-LSH pipeline SHAPE (bucket join, never all-pairs;
    * verify only candidates). The production tier remains the kernel-based
    * [[minhashPairs]] (one pass per document — no md5 per (hash×shingle));
    * this tier is the externally checkable gauge, sized accordingly
    * (numHashes 16 by default). Pairs carry exact Jaccard rounded to 9. */
  def minhashPairsMd5(df: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16,
                      bands: Int = 4,
                      jaccardThreshold: Double = 0.5): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(numHashes > 0 && bands > 0, "need numHashes, bands > 0")
    val r = numHashes / bands
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col("__set"), s =>
        conv(substring(md5(concat(lit(s"$i:"), s)), 1, 15), 16, 10)
          .cast("long"))).as(s"__sig$i")
    }
    // withSig feeds THREE plan branches (both band-join sides + the
    // shingle-set verify) and its signature pass costs numHashes md5
    // calls per shingle — cache it once
    val withSig = m.cache(df
      .select(col(idCol).as("id"),
        array_distinct(shingles(col(textCol), shingleSize)).as("__set"))
      .filter(size(col("__set")) > 0)
      .select(col("id") +: col("__set") +: sigCols: _*))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until r).map(j => col(s"__sig${b * r + j}")): _*)
          .as("key"))
    }
    val sets = withSig.select(col("id"), col("__set"))
    val bandRows = withSig
      .select(col("id"), explode(array(bandCols: _*)).as("__b"))
      .select(col("id"), col("__b.band").as("__band"), col("__b.key").as("__key"))
    val pairs = bandRows.select(col("id").as("id1"), col("__band"), col("__key"))
      .join(bandRows.select(col("id").as("id2"), col("__band"), col("__key")),
        Seq("__band", "__key"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
    val inter = size(array_intersect(col("__s1"), col("__s2"))).cast("double")
    val uni = (size(col("__s1")) + size(col("__s2"))).cast("double") - inter
    val result = pairs
      .join(sets.select(col("id").as("id1"), col("__set").as("__s1")), "id1")
      .join(sets.select(col("id").as("id2"), col("__set").as("__s2")), "id2")
      .withColumn("jaccard", when(uni === 0.0, 1.0).otherwise(inter / uni))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 9).as("jaccard"))
    m.keep(m.pin(result))
  }

  /** ENGINE-REPLAYABLE near-dup LEDGER — the md5 tier of
    * [[minhashLedger]], built from the [[minhashPairsMd5]] arithmetic:
    * per document its distinct shingle set (`shh`, the raw shingle
    * strings — what the Jaccard verify intersects) and its `bands` LSH
    * band keys (`bhs`, position = band index; key = comma-joined md5
    * min-hashes). Every value regenerates in external SQL, so an intake
    * screen probing this ledger ([[graft.streaming.EventStream
    * .nearDupScreenStreamMd5]]) is oracle-checkable end-to-end. */
  def minhashLedgerMd5(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, numHashes: Int = 16,
                       bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col("shh"), s =>
        conv(substring(md5(concat(lit(s"$i:"), s)), 1, 15), 16, 10)
          .cast("long"))).as(s"__sig$i")
    }
    df.select(col(idCol).as("id"),
        array_distinct(shingles(col(textCol), shingleSize)).as("shh"))
      .filter(size(col("shh")) > 0)
      .select(col("id") +: col("shh") +: sigCols: _*)
      .select(col("id"), col("shh"),
        array((0 until bands).map { b =>
          concat_ws(",", (0 until r).map(j => col(s"__sig${b * r + j}")): _*)
        }: _*).as("bhs"))
  }

  /** ENGINE-REPLAYABLE SimHash signatures — the md5 tier of the seeded
    * kernel simhash (same move as [[minhashPairsMd5]]): the two 32-bit
    * halves of a token's hash come from md5("sh1:"/"sh2:" + token), each
    * signature bit is the sign of the token-frequency-weighted ±1 sum
    * for that bit, and the 64-bit signature feeds the SAME production
    * pair machinery ([[signaturePairs]], pigeonhole quarters + Hamming
    * verify). Every stage regenerates in external SQL (halves avoid any
    * 64-bit shift the replaying engine might reject), which is what makes
    * `q_dedup_simhash_md5` a hash-exact oracle gate for the signature
    * dedup SHAPE. Output: (id, sig). */
  def simhashMd5Sigs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = df
      .select(col(idCol).as("id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .groupBy("id", "__tok").agg(count(lit(1)).as("__cnt"))
      .withColumn("__h1",
        conv(substring(md5(concat(lit("sh1:"), col("__tok"))), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("__h2",
        conv(substring(md5(concat(lit("sh2:"), col("__tok"))), 1, 8), 16, 10)
          .cast("long"))
    def bitSum(h: String, b: Int) =
      sum(col("__cnt") *
        (shiftright(col(h), b).bitwiseAND(lit(1L)) * 2 - 1))
    val aggs =
      (0 until 32).map(b => bitSum("__h1", b).as(s"__a$b")) ++
      (0 until 32).map(b => bitSum("__h2", b).as(s"__b$b"))
    val sig =
      ((0 until 32).map(b => when(col(s"__a$b") > 0, lit(1L << b)).otherwise(lit(0L))) ++
       (0 until 32).map(b => when(col(s"__b$b") > 0, lit(1L << (b + 32))).otherwise(lit(0L))))
        .reduce(_.bitwiseOR(_))
    tf.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), sig.as("sig"))
  }

  /** Word shingles of size n as an array column. The word array is
    * LAMBDA-BOUND (`transform` over a one-element wrapper): the naive
    * formulation references the split() three times and higher-order
    * `slice` re-evaluates it PER ELEMENT — quadratic in document length.
    * Tokenization is split(trim(lower), \s+), aligned with
    * [[graft.functions.TextHash.tokenize]] and the fingerprint recipe. */
  def shingles(textCol: Column, n: Int): Column = {
    val words = split(trim(lower(textCol)), "\\s+")
    element_at(
      transform(array(words), ws =>
        when(size(ws) >= n,
          transform(sequence(lit(0), size(ws) - n),
            i => array_join(slice(ws, i + 1, lit(n)), " ")))
          .otherwise(array(array_join(ws, " ")))),
      1)
  }

  /** MinHash signature: k independent min-hashes over the shingle set.
    *
    * Single pass: each shingle STRING is hashed once (the expensive part),
    * then the k per-function values derive from re-mixing that 8-byte hash
    * (xxhash64(h, i) — cheap fixed-width hashing), folded into a running
    * k-vector of minima. The previous shape (k separate `array_min`
    * passes re-hashing the string per function) traversed the shingle
    * array k times and was the dedup bench bottleneck. */
  def minhashSignature(shingleCol: Column, k: Int): Column = {
    val hs = transform(shingleCol, s => xxhash64(s))
    aggregate(hs, array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, i) => least(m, xxhash64(h, i))))
  }

  /** Candidate pairs (id1 < id2) sharing a (band, bh) bucket key; each
    * bucket is capped at its `maxBucket` lowest ids to bound the quadratic
    * blow-up of a degenerate band. */
  private def bucketPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val bucketed = banded
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh").orderBy("id")))
      .filter(col("rn") <= maxBucket)
    bucketed.select(col("band"), col("bh"), col("id").as("id1"))
      .join(bucketed.select(col("band"), col("bh"), col("id").as("id2")), Seq("band", "bh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .dropDuplicates("id1", "id2")
  }

  /** MinHash+LSH near-duplicate PAIRS.
    *
    * Pipeline: shingle → k minhashes → split signature into `bands` bands
    * → hash each band → explode to (bandId, bandHash) keys → self-join per
    * bucket → exact Jaccard verify on the candidate pairs only.
    *
    * Scale shape: the only wide operation is the bucket join, and its key
    * (bandId, bandHash) is high-cardinality/uniform. Candidate
    * verification re-joins shingle sets by doc id — a narrow equi-join.
    * A giant bucket (degenerate band, e.g. empty docs) is capped at
    * `maxBucket` to bound the quadratic blow-up, like production dedup
    * systems do.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 5, numHashes: Int = 128, bands: Int = 16,
                   jaccardThreshold: Double = 0.8, maxBucket: Int = 1000): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(numHashes % bands == 0, "bands must divide numHashes")

    // Signature via explode + k codegen'd min-aggregates: each shingle is
    // hashed once, the k per-function values are cheap re-mixes of that
    // 8-byte hash, and the min-fold runs inside whole-stage codegen as
    // partial aggregation (the higher-order-function fold of
    // [[minhashSignature]] evaluates interpreted — fine for ad-hoc use,
    // ~10x slower in bulk). Shuffle carries only (id, k longs) per doc;
    // the shingle text itself never shuffles until the final id-keyed
    // verify join.
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    import graft.functions.{ShingleHashExpr, MinHashSigExpr, BandHashExpr}

    // Whole signature phase is ONE map pass over the corpus: per document
    // a native codegen'd kernel produces distinct shingle hashes -> k-min
    // signature -> band bucket keys, with zero shuffle before the band
    // join (higher-order-function folds would run interpreted and ~10x
    // slower; see graft.functions.TextHash). Cached because the verify
    // step re-joins the shingle sets (at warehouse scale this is the
    // materialized index table you would write out once and reuse).
    val withSh = m.cache(df.select(col(idCol).as("id"),
      C(ShingleHashExpr(E(col(textCol)), shingleSize)).as("shh")))

    val withSig = withSh.select(col("id"),
      C(MinHashSigExpr(E(col("shh")), numHashes)).as("sig"))

    // (id, bandId, bandHash)
    val banded = withSig.select(col("id"),
      posexplode(C(BandHashExpr(E(col("sig")), bands))))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))

    val candidates = bucketPairs(banded, maxBucket)

    // exact verify: join the (small) candidate id pairs back to the
    // distinct shingle-hash sets — two narrow equi-joins — and compute
    // true Jaccard over the hash sets (64-bit collisions are negligible)
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val uni = (size(col("sh1")) + size(col("sh2"))).cast("double") - inter
    val result = candidates
      .join(withSh.select(col("id").as("id1"), col("shh").as("sh1")), "id1")
      .join(withSh.select(col("id").as("id2"), col("shh").as("sh2")), "id2")
      .withColumn("jaccard", when(uni === 0.0, 1.0).otherwise(inter / uni))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id1", "id2", "jaccard")
    m.keep(m.pin(result))
  }

  /** Exact n-gram Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a); val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val uni = size(da) + size(db) - size(array_intersect(da, db))
    when(uni === 0, lit(1.0)).otherwise(inter / uni.cast("double"))
  }

  /** n-gram Jaccard near-dup pairs WITHOUT LSH — exact all-pairs.
    * Quadratic by design: the small-data / verification baseline (the
    * 100 TB path is [[minhashPairs]], whose banding approximates exactly
    * this measure).
    *
    * The per-pair set intersection is the whole cost, so the threshold
    * lives ENTIRELY in the join condition, ordered cheap-first (join
    * conjuncts short-circuit left to right): `id1 < id2`, then the
    * division-free gate `i*(1+t) >= t*n - 1e-9` (algebraically equivalent
    * to `i/(n-i) >= t` over the reals; the slack makes the double-rounded
    * form a strict superset) evaluating ONE intersect per pair, then the
    * exact divide-form predicate — the operator's contract, and what
    * external oracles compute — on gate survivors only. A naive
    * `filter(jaccard >= t)` ABOVE the join does NOT behave this way:
    * predicate pushdown re-inlines the alias into the join condition
    * AHEAD of the existing conjuncts, evaluating the intersect 3x per
    * candidate pair (seen in the join condition of the final plan). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    // shingle HASHES, not strings: the one-pass native kernel emits each
    // document's distinct sorted 8-byte gram hashes, so the all-pairs
    // intersect runs over long arrays (set cardinalities — and hence
    // jaccard values — are identical to the string formulation modulo a
    // 2^-64 collision rate; pinned differentially against the string
    // brute force in PropertySpec)
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    val withSh = df.select(col(idCol).as("id"),
      C(graft.functions.ShingleHashExpr(E(col(textCol)), shingleSize)).as("sh"))
    val l = withSh.select(col("id").as("id1"), col("sh").as("sh1"))
    val r = withSh.select(col("id").as("id2"), col("sh").as("sh2"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val sizes = (size(col("sh1")) + size(col("sh2"))).cast("double")
    // slack scales WITH the operands: an absolute 1e-9 is below one ulp of
    // inter*(1+t) once shingle counts reach ~1e7, where double rounding
    // could push an exact-boundary pair just under an absolute-slack gate
    // and silently break the strict-superset guarantee
    val gate = inter * lit(1.0 + threshold) >= (lit(threshold) - lit(1e-9)) * sizes
    val jac = when(sizes === inter, lit(1.0)).otherwise(inter / (sizes - inter))
    l.join(r, col("id1") < col("id2") && gate && jac >= threshold, "inner")
      .select(col("id1"), col("id2"), jac.as("jaccard"))
  }

  /** Prefix-filtered EXACT Jaccard-threshold self-join over word-token
    * sets — the SSJoin/PPJoin family (Chaudhuri et al., ICDE'06; Xiao et
    * al., WWW'08). Unlike [[minhashPairs]] (probabilistic candidates, can
    * miss pairs) and [[ngramJaccardPairs]] (exact but all-pairs), this is
    * BOTH exact — provably no false negatives — AND never materializes the
    * cross product.
    *
    * Canonical order: every document's distinct tokens are sorted by
    * (global document frequency asc, token asc) — rarest first. Prefix of
    * a size-n set: its first p = n − ⌈t·n⌉ + 1 tokens in that order.
    * Candidates are generated ONLY for pairs whose prefixes share a token.
    *
    * Completeness: J(s1,s2) ≥ t ⟹ i = |s1∩s2| ≥ t·|s1∪s2| ≥ t·n_k for
    * each k. If the prefixes were disjoint, the smallest common token w
    * (in the canonical order) misses at least one prefix — say s1's — so
    * ALL i common tokens sit in s1's suffix of ⌈t·n1⌉ − 1 elements,
    * giving i < t·n1: contradiction. The ⌈·⌉ is computed with a −1e-9
    * slack so float rounding can only LENGTHEN a prefix (more candidates,
    * never a lost pair).
    *
    * 100 TB shape: one groupBy for token document frequencies, one
    * re-sort-and-slice pass, then a join keyed on PREFIX tokens only.
    * Rare-first ordering is the skew control — a token appears in
    * prefixes roughly when it is rare, so bucket sizes stay small even
    * when the corpus vocabulary is Zipfian; the length filter
    * t·n1 ≤ n2 ≤ n1/t prunes candidates before the verify join. Verify
    * re-joins the (id → token set) table twice and keeps the exact-Jaccard
    * survivors — intersections run once per candidate, not per token
    * collision, because candidates are deduped first. */
  def prefixJaccardJoin(df: DataFrame, textCol: String, idCol: String,
                        threshold: Double = 0.6): DataFrame =
    prefixJaccardCore(df, textCol, idCol, threshold, None)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Shared engine of [[prefixJaccardJoin]] / [[prefixJaccardScreen]].
    * When `sideCol` is set, CANDIDATES are restricted to cross-side pairs
    * before dedup and verify — the screen must not pay set-intersections
    * for same-side pairs it will discard — and the output carries
    * `__sd1`/`__sd2` so the caller can orient pairs without re-joining.
    *
    * Token-id representation (r14, guide §2.3/§1.2): documents are
    * re-encoded onto BIJECTIVE long token ids assigned in the canonical
    * (document-frequency asc, token asc) order — `monotonically_increasing_id`
    * over the range-sorted vocabulary is strictly increasing with the sort
    * order (the id's high bits are the partition index and range partitions
    * are themselves ordered), so `sort_array` over a document's ids IS the
    * rare-first canonical order, prefixes are the same token sets as the
    * string formulation, and candidate equi-join keys are 8-byte longs
    * instead of token strings. The verify stage intersects two
    * ascending-sorted long arrays with the
    * [[graft.functions.SortedLongIntersectCount]] merge kernel — EXACT
    * (ids are bijective: same cardinalities as string intersection, no
    * hashing anywhere), O(|a|+|b|) with zero allocation, replacing
    * `size(array_intersect)`'s per-pair hash set over strings. Which
    * PHYSICAL id a token gets may vary run to run (range boundaries,
    * AQE); only its ORDER and IDENTITY matter, and both are pinned for
    * the query's lifetime — the vocab map is pinned eagerly so every plan
    * branch reads the ONE assignment and a recompute can never silently
    * produce a different one. */
  private def prefixJaccardCore(df: DataFrame, textCol: String, idCol: String,
                                threshold: Double,
                                sideCol: Option[String]): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val sideSel = sideCol.map(c => col(s"`$c`").as("__sd")).toSeq
    val toks = df.select(col(idCol).as("id") +:
        array_distinct(filter(split(trim(lower(col(textCol))), "\\s+"),
          t => length(t) > 0)).as("__t") +: sideSel: _*)
      .filter(size(col("__t")) > 0)
    val exploded = toks.select(col("id"), explode(col("__t")).as("__tok"))
    val freq = exploded.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // bijective long token ids in the canonical rare-first order (ties on
    // frequency break deterministically on the token itself).
    // monotonically_increasing_id over a range sort is only stable WITHIN
    // one evaluation, so the assignment is PINNED eagerly: every
    // downstream plan branch (both prefix sides, both verify sides) reads
    // the one checkpointed map, and a lost executor fails the query loudly
    // instead of silently recomputing a DIFFERENT assignment mid-query
    // (ADVICE r14: a cache-only vocab could be evicted and re-sampled
    // inconsistently).
    val vocab = m.pin(freq.sort(col("__df"), col("__tok"))
      .select(col("__tok"), monotonically_increasing_id().as("__tid")))
    val ordered = exploded.join(vocab, "__tok")
      .groupBy("id")
      .agg(sort_array(collect_list(col("__tid"))).as("__ord"))
    // the ordered-token-set frame feeds FOUR plan branches (both prefix
    // sides, both verify sides): cache it once instead of re-tokenizing
    // the corpus 4x; the small pair result is pinned, so the corpus-sized
    // cache is released before returning
    val sized0 = m.cache(ordered
      .withColumn("__n", size(col("__ord")))
      .withColumn("__p",
        col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)).cast("int") + 1))
    // re-attach the side tag (the freq/ordered pipeline drops it)
    val sized = sideCol match {
      case None => sized0
      case Some(_) =>
        sized0.join(toks.select(col("id"), col("__sd")), "id")
    }
    val prefCols = Seq(col("id"), col("__n"),
      posexplode(slice(col("__ord"), lit(1), col("__p"))).as(Seq("__pos", "__tok"))) ++
      sideCol.map(_ => col("__sd"))
    val pref = sized.select(prefCols: _*)
    val lenOk =
      col("__n2").cast("double") >= lit(threshold) * col("__n1") - lit(1e-9) &&
      col("__n1").cast("double") >= lit(threshold) * col("__n2") - lit(1e-9)
    // PPJoin POSITIONAL filter (Xiao et al., WWW'08 §3.2): a qualifying
    // pair has overlap o ≥ t/(1+t)·(n1+n2); at its EARLIEST common token
    // (canonical order, 0-based positions i1/i2) every common token sits
    // at position ≥ i1 in s1 and ≥ i2 in s2, so o ≤ 1 + min(n1-1-i1,
    // n2-1-i2). The earliest common token of a true pair is always inside
    // BOTH prefixes (it precedes whichever shared token the prefix lemma
    // guarantees), so filtering EVERY collision row by the bound keeps at
    // least that row per true pair — exact, and it halves the candidate
    // volume entering the pair dedup. The −1e-9 slack can only ADMIT a
    // boundary candidate, never lose one.
    val posOk = (lit(1) + least(col("__n1") - lit(1) - col("__pos1"),
        col("__n2") - lit(1) - col("__pos2"))).cast("double") >=
      lit(threshold / (1.0 + threshold)) *
        (col("__n1") + col("__n2")).cast("double") - lit(1e-9)
    val aCols = Seq(col("id").as("id1"), col("__n").as("__n1"),
      col("__pos").as("__pos1"), col("__tok")) ++
      sideCol.map(_ => col("__sd").as("__sd1"))
    val bCols = Seq(col("id").as("id2"), col("__n").as("__n2"),
      col("__pos").as("__pos2"), col("__tok")) ++
      sideCol.map(_ => col("__sd").as("__sd2"))
    val crossOnly = sideCol.map(_ => col("__sd1") =!= col("__sd2"))
      .getOrElse(lit(true))
    val candCols = Seq("id1", "id2") ++ sideCol.map(_ => "__sd1").toSeq ++
      sideCol.map(_ => "__sd2").toSeq
    // the collision join EXPLODES (its output is the candidate-collision
    // volume, orders of magnitude above its input): repartitioning the
    // probe side by id first spreads that explosion over the executors.
    // r15 adjudication of the r14 evidence gap (VERDICT r14 item 2): in
    // a lazy plan without the sized0 cache this exchange is ELIDED by
    // EnsureRequirements as alias-semantically equal to the groupBy("id")
    // child partitioning. Above the cached sized0 subtree (AQE on) it is
    // live, and on the screen it is worth ~1.5x, measured at sf0.1 with interleaved
    // bracketing runs: q_dedup_ppjoin_screen 5.0-7.4 s WITH the by-id
    // repartition (measured before and after the variants), 9.4-10.1 s
    // with it removed, 9.8-10.8 s with a finer (id1, __pos1) keying —
    // the by-id form stands. q_dedup_ppjoin / q_containment are flat
    // across all three variants. Partition count = defaultParallelism,
    // scale-adaptive, never a constant.
    val fanout = df.sparkSession.sparkContext.defaultParallelism
    val cand = pref.select(aCols: _*).repartition(fanout, col("id1"))
      .join(pref.select(bCols: _*), Seq("__tok"))
      .filter(col("id1") < col("id2") && lenOk && posOk && crossOnly)
      .select(candCols.head, candCols.tail: _*)
      .dropDuplicates("id1", "id2")
    val sets = sized0.select(col("id"), col("__ord"))
    val inter = {
      import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
      C(graft.functions.SortedLongIntersectCount(
        E(col("__s1")), E(col("__s2")))).cast("double")
    }
    val uni = (size(col("__s1")) + size(col("__s2"))).cast("double") - inter
    val outCols = Seq(col("id1"), col("id2"), col("jaccard")) ++
      sideCol.map(_ => col("__sd1")).toSeq ++ sideCol.map(_ => col("__sd2")).toSeq
    val result = cand
      .join(sets.select(col("id").as("id1"), col("__ord").as("__s1")), "id1")
      .join(sets.select(col("id").as("id2"), col("__ord").as("__s2")), "id2")
      .withColumn("jaccard", when(uni === 0.0, lit(1.0)).otherwise(inter / uni))
      .filter(col("jaccard") >= threshold)
      .select(outCols: _*)
    m.keep(m.pin(result))
  }

  /** Probe-vs-corpus form of [[prefixJaccardJoin]] — the EXACT near-dup
    * INTAKE SCREEN: every (probe, corpus) pair at or above the Jaccard
    * threshold, with provably no false negatives (the property the
    * banded-minhash ledger tier trades away). Runs the identical
    * rare-first prefix machinery over the tagged union — document
    * frequencies, and therefore the canonical order and prefixes, come
    * from the COMBINED corpus+probe universe, which preserves the
    * completeness lemma verbatim — and keeps only cross-side pairs.
    * Ids must be unique ACROSS the two inputs (tag upstream if not);
    * same-side candidate pairs are pruned at the CANDIDATE stage, before
    * pair dedup and verification — the screen never pays a
    * set-intersection for a corpus-internal or probe-internal pair.
    * Output: (probe_id, corpus_id, jaccard). */
  def prefixJaccardScreen(corpus: DataFrame, probes: DataFrame,
                          textCol: String, idCol: String,
                          threshold: Double = 0.6): DataFrame = {
    val tagged = corpus.select(col(idCol), col(textCol), lit(0).as("__side"))
      .unionByName(probes.select(col(idCol), col(textCol), lit(1).as("__side")))
    prefixJaccardCore(tagged, textCol, idCol, threshold, Some("__side"))
      .select(
        when(col("__sd1") === 1, col("id1")).otherwise(col("id2")).as("probe_id"),
        when(col("__sd1") === 1, col("id2")).otherwise(col("id1")).as("corpus_id"),
        col("jaccard"))
  }

  /** EXACT CONTAINMENT join — the asymmetric near-dup measure
    * C(A→B) = |A∩B| / |A|: "how much of document A lives inside B"
    * (truncations, quote-heavy derivations, sub-document copies — pairs
    * symmetric Jaccard scores low on precisely because |B| is large).
    * Emits every ordered pair with containment ≥ `threshold`, exactly.
    *
    * One-sided prefix filter: C ≥ t ⟹ |A∩B| ≥ t·|A|, so if A's first
    * |A| − ⌈t·|A|⌉ + 1 canonical-order tokens all miss B, the overlap
    * fits in A's ⌈t·|A|⌉ − 1 suffix — contradiction. Only the CONTAINED
    * side prunes to a prefix; the containing side must expose all its
    * tokens (no bound exists on |B|), so candidates are A-prefix ×
    * B-full token collisions — still rare-first keyed, never a cross
    * product. No length filter applies (B may be arbitrarily large).
    * Self-pairs are excluded; both orientations of a pair can emit. */
  def containmentJoin(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double = 0.8): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val toks = df.select(col(idCol).as("id"),
        array_distinct(filter(split(trim(lower(col(textCol))), "\\s+"),
          t => length(t) > 0)).as("__t"))
      .filter(size(col("__t")) > 0)
    val exploded = toks.select(col("id"), explode(col("__t")).as("__tok"))
    val freq = exploded.groupBy("__tok").agg(count(lit(1)).as("__df"))
    // bijective long token ids in canonical rare-first order — same
    // representation (and exactness + id-pinning argument) as
    // [[prefixJaccardCore]]: the assignment is pinned eagerly so every
    // plan branch reads ONE map and cache loss can never reassign
    val vocab = m.pin(freq.sort(col("__df"), col("__tok"))
      .select(col("__tok"), monotonically_increasing_id().as("__tid")))
    val ordered = exploded.join(vocab, "__tok")
      .groupBy("id")
      .agg(sort_array(collect_list(col("__tid"))).as("__ord"))
    val sized = m.cache(ordered
      .withColumn("__n", size(col("__ord")))
      .withColumn("__p",
        col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)).cast("int") + 1))
    // positional filter, containment form: C ≥ t ⟹ o ≥ t·|A|, and at the
    // pair's earliest common token (0-based positions iA/iB) the overlap
    // is ≤ 1 + min(nA-1-iA, nB-1-iB) — the earliest common token is
    // always inside A's prefix (it precedes the shared token the prefix
    // lemma guarantees) and trivially inside B's full list, so the
    // per-row filter keeps at least that row for every true pair. The
    // explosion-spreading repartition mirrors [[prefixJaccardCore]].
    val prefA = sized.select(col("id").as("id_a"), size(col("__ord")).as("__na"),
      posexplode(slice(col("__ord"), lit(1), col("__p"))).as(Seq("__pa", "__tok")))
    val fullB = sized.select(col("id").as("id_b"), size(col("__ord")).as("__nb"),
      posexplode(col("__ord")).as(Seq("__pb", "__tok")))
    val posOk = (lit(1) + least(col("__na") - lit(1) - col("__pa"),
        col("__nb") - lit(1) - col("__pb"))).cast("double") >=
      lit(threshold) * col("__na").cast("double") - lit(1e-9)
    // by-id explosion-spreading repartition, same shape (and same r15
    // elision adjudication) as prefixJaccardCore's candidate join: live
    // above the cached subtree; all three variants (by-id, by (id, pos), removed)
    // measured within noise on q_containment at sf0.1
    val fanout = df.sparkSession.sparkContext.defaultParallelism
    val cand = prefA.repartition(fanout, col("id_a"))
      .join(fullB, Seq("__tok"))
      .filter(col("id_a") =!= col("id_b") && posOk)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val sets = sized.select(col("id"), col("__ord"))
    val inter = {
      import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
      C(graft.functions.SortedLongIntersectCount(
        E(col("__sa")), E(col("__sb")))).cast("double")
    }
    val result = cand
      .join(sets.select(col("id").as("id_a"), col("__ord").as("__sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("__ord").as("__sb")), "id_b")
      .withColumn("containment", inter / size(col("__sa")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
    m.keep(m.pin(result))
  }

  /** Truncation-duplicate CLEANUP over [[containmentJoin]]: drop every
    * document whose token set is ≥ `threshold` contained in a STRICTLY
    * LARGER document's set (ties — mutual 1.0 containment between
    * equal-sized sets — keep the smallest id). The standard "remove
    * truncations and quote-shells" curation rule. A document contained
    * in an itself-dropped document still drops (the greedy rule is
    * independent per pair — deterministic, externally replayable;
    * chains collapse to their longest member in one pass). Returns the
    * KEPT rows of `df`. */
  def dropContained(df: DataFrame, textCol: String, idCol: String,
                    threshold: Double = 0.95): DataFrame = {
    val pairs = containmentJoin(df, textCol, idCol, threshold)
    val sizes = df.select(col(idCol).as("__zid"),
      size(array_distinct(filter(split(trim(lower(col(textCol))), "\\s+"),
        t => length(t) > 0))).as("__zn"))
    val drops = pairs
      .join(sizes.select(col("__zid").as("id_a"), col("__zn").as("__na")), "id_a")
      .join(sizes.select(col("__zid").as("id_b"), col("__zn").as("__nb")), "id_b")
      .filter(col("__nb") > col("__na") ||
        (col("__nb") === col("__na") && col("id_b") < col("id_a")))
      .select(col("id_a").as("__drop")).distinct()
    df.join(drops, col(idCol) === col("__drop"), "left_anti")
  }

  /** Train/test CONTAMINATION report: every (corpus doc, probe doc) pair
    * sharing at least `minOverlap` distinct word `n`-grams, with the
    * shared-gram count — the decontamination primitive (flag or drop
    * training documents that leak evaluation content; n=13 is the
    * standard published choice, smaller n for short-document corpora).
    *
    * Scale shape: the one-pass native [[graft.functions.ShingleHashExpr]]
    * kernel turns each document into its distinct 8-byte gram hashes
    * (never the gram strings, and never the quadratic HOF slice-per-
    * element shape of the declarative [[shingles]] builder), one explode
    * per side, a hash equi-join, and a count per (doc, probe). Never
    * all-pairs: cost is the shared-gram join volume, and each side's
    * grams are per-document distinct so the count IS the distinct-overlap
    * count. The probe side (an eval benchmark) is small by nature — Spark
    * broadcasts it when it fits. Hash-keyed matching accepts a
    * 2^-64-per-pair false-match rate; exact-match semantics (what
    * external oracles compute) coincide at any realistic corpus size. */
  def contamination(corpus: DataFrame, probes: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 13, minOverlap: Long = 1): DataFrame = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    def grams(df: DataFrame, outId: String) =
      df.select(col(idCol).as(outId),
        explode(C(graft.functions.ShingleHashExpr(E(col(textCol)), n))).as("__gh"))
    grams(corpus, "doc_id").join(grams(probes, "probe_id"), "__gh")
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the share
    * of the document's distinct word n-grams absent from the reference —
    * the memorization-risk / duplication-pressure gauge (novelty 0 =
    * every n-gram already exists in the reference, 1 = fully novel). The
    * inverse view of [[contamination]], on the same hashed-shingle
    * machinery: the shuffle carries 8-byte hashes, never text, and the
    * kernel already emits distinct shingles per document (the
    * `q_contamination` oracle's list_distinct equivalence proves it).
    * Documents shorter than `n` words score on their whole-document
    * gram. Output: (idCol, total_ngrams, seen, novelty).
    *
    * Scale shape: reference grams collapse to a distinct hash set
    * (O(distinct) shuffle), the doc side is one semi-join on the hash,
    * and novelty is a groupBy on the doc id. */
  /** Duplicate-cluster size histogram: how many exact-duplicate clusters
    * exist at each multiplicity, and how many documents they hold —
    * size 1 is the unique mass, the size ≥ 2 tail is what exact dedup
    * will remove ((size−1)·n_clusters docs). The before/after sizing
    * report every dedup run starts from.
    *
    * Scale shape: one fingerprint groupBy (16-byte keys, map-side
    * combined) then a size-keyed aggregate bounded by the largest
    * cluster — two shuffles, nothing quadratic. */
  def dupHistogram(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("__fp"))
      .agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__sz")).as("n_docs"))

  /** Cross-source duplication matrix: for every source pair, how many
    * DISTINCT document fingerprints they share and the fingerprint-set
    * Jaccard — the provenance report that decides which feeds are
    * mirrors/scrapes of each other before mixture weighting. Pairs with
    * zero shared fingerprints do not appear. Pair keys order by source
    * name (src_a < src_b), so the matrix is deterministic.
    *
    * Scale shape (the [[TextAnalysis.vocabOverlap]] recipe on whole-doc
    * fingerprints): one distinct on (source, fp) — a 16-byte-key
    * shuffle — then per-fp source sets bounded by the SOURCE count, pair
    * explode ≤ C(sources, 2) per fp absorbed by map-side combine, and
    * broadcast joins against per-source totals. Never quadratic in
    * documents. */
  def sourceOverlap(df: DataFrame, textCol: String,
                    sourceCol: String): DataFrame = {
    val f = df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("__g"),
        TextAnalysis.fingerprintMd5(col(textCol)).as("__fp")).distinct()
    val sizes = f.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
    val gs = col("__gs")
    val pairCol = flatten(transform(gs, (a, i) =>
      transform(slice(gs, i + lit(2), size(gs) - i - lit(1)),
        b => struct(a.as("ga"), b.as("gb")))))
    val inter = f.groupBy(col("__fp"))
      .agg(sort_array(collect_set(col("__g"))).as("__gs"))
      .select(explode(pairCol).as("__p"))
      .groupBy(col("__p.ga").as("src_a"), col("__p.gb").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    val sa = sizes.toDF("__ga", "__na"); val sb = sizes.toDF("__gb", "__nb")
    inter.join(broadcast(sa), col("src_a") === col("__ga"))
      .join(broadcast(sb), col("src_b") === col("__gb"))
      .select(col("src_a"), col("src_b"), col("shared"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        round(col("shared").cast("double") /
          (col("__na") + col("__nb") - col("shared")).cast("double"), 9)
          .as("jaccard"))
  }

  def noveltyScore(docs: DataFrame, reference: DataFrame, textCol: String,
                   idCol: String, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    val d = docs.select(col(idCol).as("__id"),
      explode(C(graft.functions.ShingleHashExpr(E(col(textCol)), n))).as("__gh"))
    val ref = reference.select(
      explode(C(graft.functions.ShingleHashExpr(E(col(textCol)), n))).as("__gh"))
      .distinct()
    val tot = d.groupBy("__id").agg(count(lit(1)).as("total_ngrams"))
    val seen = d.join(ref, Seq("__gh"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("seen"))
    tot.join(seen, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("total_ngrams"),
        coalesce(col("seen"), lit(0L)).as("seen"),
        when(col("total_ngrams") > 0,
          lit(1.0) - coalesce(col("seen"), lit(0L)).cast("double") /
            col("total_ngrams").cast("double")).as("novelty"))
  }

  /** Embedding-cosine near-duplicate PAIRS: random-hyperplane sketches
    * (see [[Similarity.sketch]]) are split into bands; vectors sharing a
    * band bucket become candidates, verified by exact cosine. Same scale
    * shape as [[minhashPairs]]: one map pass to sketch, a banded bucket
    * join (capped buckets), exact verification only on candidates — never
    * all-pairs. High cosine => small sketch Hamming distance => the pair
    * shares a band with high probability (tune `bands`/`nBits` for the
    * target threshold). */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
                     cosineThreshold: Double = 0.9, nBits: Int = 32,
                     bands: Int = 4, dim: Int = -1, seed: Long = 42L,
                     maxBucket: Int = 1000): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(nBits % bands == 0, "bands must divide nBits")
    val rows = nBits / bands
    // sketches are packed into 64-bit words; a band must sit inside one
    // word so its bits come out with one shift+mask
    require(rows <= 64 && (0 until bands).forall(b => (b * rows) % 64 + rows <= 64),
      s"band width $rows straddles a 64-bit sketch word")
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    // hyperplane dimensionality must match the data: a mismatch nulls every
    // dot product and silently collapses all sketches to one bucket
    val theDim =
      if (dim > 0) dim
      else df.select(size(col(vecCol))).head().getInt(0)

    val sk = m.cache(df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.sketch(col(vecCol), Similarity.hyperplanes(theDim, nBits, seed)).as("sk")))

    val banded = sk.select(col("id"),
      explode(array((0 until bands).map { b =>
        val bit = b * rows
        struct(lit(b).as("band"),
          shiftright(element_at(col("sk"), bit / 64 + 1), bit % 64)
            .bitwiseAND(mask).as("bh"))
      }: _*)).as("bb"))
      .select(col("bb.band"), col("bb.bh"), col("id"))

    val candidates = bucketPairs(banded, maxBucket)

    val result = candidates
      .join(sk.select(col("id").as("id1"), col("vec").as("v1")), "id1")
      .join(sk.select(col("id").as("id2"), col("vec").as("v2")), "id2")
      .withColumn("cosine", Similarity.cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= cosineThreshold)
      .select("id1", "id2", "cosine")
    m.keep(m.pin(result))
  }

  /** Connected components over an undirected edge list — the cluster-
    * resolution step between "near-duplicate PAIRS" (minhashPairs /
    * simhashPairs / embeddingPairs) and "deduplicated corpus": duplicate
    * relations are transitive in effect (A~B, B~C usually means A,B,C are
    * one template), so pairs must be folded into clusters before choosing
    * one representative per cluster.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
    * rounds, each round pure join + min-aggregate. Scale shape: no
    * per-node adjacency lists are ever collected (the usual OOM in naive
    * CC), the per-round state is one (u,v) edge table with 16-byte rows,
    * and lineage is cut every round with an eager [[Materialize.pin]] so
    * the plan does not grow with iteration count. Skewed high-degree nodes
    * cost one hot reduce key in the min-aggregate (partial aggregation
    * absorbs it map-side), not a hot join bucket.
    *
    * Returns one row per node appearing in `pairs`: `(id, cluster)` where
    * `cluster` is the minimum node id of the component.
    */
  def connectedComponents(pairs: DataFrame, idCol1: String = "id1",
                          idCol2: String = "id2", maxIter: Int = 30): DataFrame =
    Materialize(pairs.sparkSession) { m =>
    // ids may be integral (cast to long for a uniform 8-byte shuffle key)
    // or strings (UUIDs/URLs/content hashes — kept as-is, cluster = the
    // lexicographic minimum). Anything else fails loudly HERE: a blind
    // cast("long") would null out non-numeric ids, drop every edge, and
    // make dedupByPairs a silent no-op.
    import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StringType}
    val t1 = pairs.schema(idCol1).dataType
    val t2 = pairs.schema(idCol2).dataType
    // scale-0 decimals (the standard JDBC NUMBER key shape) are integral
    // too; a value beyond long range fails the ANSI cast loudly, it does
    // not silently null out
    def integral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0 => true
      case _ => false
    }
    val idExpr: String => Column =
      if (integral(t1) && integral(t2)) c => col(c).cast("long")
      else if (t1 == StringType && t2 == StringType) c => col(c)
      else throw new IllegalArgumentException(
        s"connectedComponents needs integral or string id columns, got " +
          s"$idCol1: ${t1.simpleString}, $idCol2: ${t2.simpleString} — " +
          "hash or index non-conforming ids first")
    val raw = pairs
      .select(idExpr(idCol1).as("a"), idExpr(idCol2).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // no persist: the node table is evaluated exactly once (the final
    // labeling join) — caching it would be a pure extra materialization
    val nodes = raw.select(col("a").as("id"))
      .unionAll(raw.select(col("b").as("id"))).distinct()

    // per-round lineage cut (pin) — MANDATORY: the iterated plan would
    // grow exponentially. Canonical direction: u (larger) -> v (smaller);
    // invariant held by both star operations below
    var e = m.pin(raw.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct())

    // convergence = identical edge set. count + order-independent
    // xor-of-hashes is one cheap scan per round (an except().count()
    // would cost a full join); a 64-bit collision calling a non-fixpoint
    // "converged" is ~2^-64 and maxIter bounds the loop regardless.
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = checksum(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every node links its LARGER neighbors to its local min
      val und = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // NO distinct here: duplicates (two nodes linking the same (v, m))
      // are harmless — min-aggregate dedups keys, the mins2 join cannot
      // multiply rows (mins2 is unique per u), and small-star's final
      // distinct restores set semantics — so skipping it saves one full
      // shuffle of the edge set per round
      // SHUFFLE_HASH hints (r14, guide §3.1): the per-round inputs are
      // checkpoint scans with no size statistics — never auto-broadcast,
      // and sort-merge would re-sort the edge-sized side every round; the
      // per-node min tables are the classic hash build side. Join results
      // and the min aggregates are set/order-exact, so labels are
      // bit-identical.
      val large = und.filter(col("v") > col("u"))
        .join(mins.hint("SHUFFLE_HASH"), "u")
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: all edges now point large->small; every node folds its
      // smaller neighbors (and itself) onto their minimum
      val mins2 = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(mins2.hint("SHUFFLE_HASH"), "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins2.select(col("u"), col("m").as("v")))
        .distinct()
      val prevE = e
      e = m.pin(small)
      m.drop(prevE)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      it += 1
    }
    // fixpoint: e is a star forest (child -> componentMin); roots and
    // isolated nodes label themselves
    m.keep(m.pin(nodes
      .join(e.select(col("u").as("id"), col("v").as("cluster")).hint("SHUFFLE_HASH"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))))
  }

  /** Keep one representative (the minimum id) per duplicate cluster:
    * resolves `pairs` into components, then anti-joins the non-canonical
    * members out of `df`. Rows never named in `pairs` pass through. The
    * anti-join key set is only the duplicate ids — Spark broadcasts it
    * when small, shuffles when not; either way no corpus self-join. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                   idCol1: String = "id1", idCol2: String = "id2"): DataFrame = {
    val nonCanonical = connectedComponents(pairs, idCol1, idCol2)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(nonCanonical, Seq(idCol), "left_anti")
  }

  /** Keep the BEST representative per duplicate cluster instead of the
    * minimum id: resolve `pairs` into components, elect the member with
    * the highest `priorityCol` (ties -> lowest id) per cluster, anti-join
    * the losers out. The production form of [[dedupByPairs]] — a dedup
    * pass should keep the best copy (longest text, highest quality score,
    * preferred source), not an arbitrary one. Null priorities sort last
    * (a null-quality row never beats a scored one).
    *
    * Scale shape: the window runs over dup-cluster MEMBERS only (pairs'
    * id universe, not the corpus), and the final anti-join carries only
    * loser ids — same O(duplicates) traffic as [[dedupByPairs]] plus one
    * narrow join to fetch priorities. */
  def dedupByPairsBest(df: DataFrame, idCol: String, pairs: DataFrame,
                       priorityCol: String, idCol1: String = "id1",
                       idCol2: String = "id2"): DataFrame = {
    val members = connectedComponents(pairs, idCol1, idCol2)
      .join(df.select(col(idCol).as("id"), col(priorityCol).as("__p")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("__p").desc, col("id"))
    val losers = members.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash: 64-bit signature whose Hamming distance tracks cosine
    * similarity of the token multiset. A native codegen'd kernel
    * ([[graft.functions.SimHashExpr]]) — one static call per row inside
    * whole-stage codegen; the declarative formulation (64 aggregate folds
    * or a vote-vector zip) evaluates interpreted and dominated the bench. */
  def simhash(textCol: Column): Column = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    C(graft.functions.SimHashExpr(E(textCol)))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Consecutive fixed-width word spans (`w` words each, last one short)
    * as an array column. The chunked variant of sub-document segmentation:
    * where a corpus has real paragraph breaks, split on the separator
    * instead and feed the pieces to the same keep-first machinery — the
    * synthetic corpus is single-line, so spans are the unit that actually
    * collides. Word array is lambda-bound once (see [[shingles]] for why
    * the naive formulation is quadratic in document length). */
  def spans(textCol: Column, w: Int): Column = {
    require(w > 0, s"span width must be positive, got $w")
    // empty tokens are dropped BEFORE span windows form: split() emits a
    // leading "" for text starting with non-space whitespace (trim only
    // strips 0x20), and whitespace-only text must yield ZERO spans, not
    // one empty span — no words, no spans, on both engines
    val words = filter(split(trim(lower(textCol)), "\\s+"),
      tok => length(tok) > 0)
    when(length(trim(textCol)) === 0, array().cast("array<string>"))
      .otherwise(element_at(
        transform(array(words), ws =>
          when(size(ws) === 0, array().cast("array<string>"))
            .otherwise(transform(
              sequence(lit(0), floor((size(ws) - 1) / w).cast("int")),
              i => array_join(slice(ws, i * w + 1, lit(w)), " ")))),
        1))
  }

  /** Sub-document exact dedup: drop every repeated span, keeping only the
    * globally FIRST occurrence (ordered by (id, position)), and reassemble
    * each document from its surviving spans. The fixed-window form of
    * repeated-substring removal for training corpora — boilerplate,
    * licence blocks, and templated passages repeat VERBATIM across crawled
    * documents, and document-level dedup never sees them.
    *
    * Scale shape (100 TB): span text is hashed to 8 bytes in the map
    * stage; the winner-election aggregation shuffles only
    * (hash, id, pos) — map-side partial `min` keeps the exchange at
    * unique-span cardinality. The winner table joins BACK on the hash, so
    * the only stage that carries span text is the final per-document
    * reassembly, which shuffles exactly the KEPT spans, partitioned by
    * document id. Nothing is all-pairs and nothing collects.
    *
    * Output: one row per input row — id, n_spans, n_kept, `text_dedup`
    * (empty string when every span was dropped). Keep-first is resolved on
    * the 64-bit xxhash of the span (collision odds 2^-64, same contract as
    * [[exact]]'s hash-group).
    *
    * Reference analogue: warp has document-level dedup only (distinct /
    * unique steps); sub-document dedup is part of the LLM-pipeline
    * extension surface. */
  def dedupSpans(df: DataFrame, textCol: String, idCol: String,
                 windowWords: Int = 10): DataFrame = {
    val sp = df.select(col(idCol).as("__id"),
        posexplode(spans(col(textCol), windowWords)).as(Seq("__pos", "__span")))
      .select(col("__id"), col("__pos"), col("__span"),
        xxhash64(col("__span")).as("__h"))
    // winner = first (id, pos) per span hash; struct min orders
    // lexicographically, so (id, pos) ties resolve deterministically
    val winners = sp.groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
      .select(col("__h"), col("__w.__id").as("__wid"), col("__w.__pos").as("__wpos"))
    val kept = sp.join(winners, Seq("__h"))
      .filter(col("__id") === col("__wid") && col("__pos") === col("__wpos"))
    val rebuilt = kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__span")))),
          x => x.getField("__span")), " ").as("text_dedup"))
    df.select(col(idCol),
        coalesce(size(spans(col(textCol), windowWords)), lit(0)).as("n_spans"))
      .join(rebuilt, col(idCol) === col("__id"), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Broadcast Bloom pre-gate for cross-corpus membership: build a Bloom
    * filter over the REFERENCE corpus's 64-bit content hashes (distributed
    * build, driver merge — the filter is sized by `expectedItems`/`fpp`,
    * not by corpus bytes) and return a predicate Column that is true iff
    * the hash MIGHT be in the reference. Uses Spark's own runtime-filter
    * machinery ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
    * codegen'd) with the filter inlined as a binary literal, so the gate
    * rides whole-stage codegen on the probe side.
    *
    * Scale shape: this is THE pattern for deduping a 100 TB ingest against
    * a historical corpus whose key set is too big to broadcast as a hash
    * join but whose Bloom filter is not (1 % fpp ≈ 1.2 bytes/key): the
    * gate runs map-side and only the ~(dup-rate + fpp) fraction of rows
    * ever reaches a shuffle. */
  def bloomMightContain(reference: DataFrame, textCol: String,
                        expectedItems: Long, fpp: Double = 0.01): Column => Column = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    val bf = reference.select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    (hashCol: Column) =>
      C(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bytes, org.apache.spark.sql.types.BinaryType),
        E(hashCol)))
  }

  /** Rows of `incoming` whose exact content ALREADY EXISTS in `reference`
    * (the re-ingestion flag/drop primitive): Bloom pre-gate, then an exact
    * semi-join on (hash, length) — the same collision contract as
    * [[exact]] — over gate survivors only. One scan of `incoming`; the
    * shuffle carries only rows the Bloom filter could not rule out, and
    * the reference side ships 16-byte keys, never document bodies.
    * False positives from the Bloom gate are eliminated by the semi-join,
    * so the result is EXACT (engine-portable, SQL-oracle-checkable);
    * null text never matches (null join key), matching SQL `EXISTS`
    * equality semantics. */
  def crossDupes(incoming: DataFrame, reference: DataFrame,
                 textCol: String, idCol: String,
                 expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val might = bloomMightContain(reference, textCol, expectedItems, fpp)
    val refKeys = reference
      .select(xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__l"))
      .distinct()
    incoming.withColumn("__h", xxhash64(col(textCol)))
      .filter(might(col("__h")))
      .withColumn("__l", length(col(textCol)))
      .join(refKeys, Seq("__h", "__l"), "left_semi")
      .drop("__h", "__l")
  }

  /** Complement of [[crossDupes]]: rows of `incoming` NOT in `reference`
    * (the kept set of an incremental ingest). Two branches share the
    * incoming scan: rows failing the Bloom gate are definitely new and
    * bypass the join entirely (map-only); rows passing it are confirmed
    * by an exact anti-join on (hash, length). Exact for the same reason
    * as [[crossDupes]] — the gate admits false positives, never false
    * negatives, and the join removes the false positives. */
  def dedupAgainst(incoming: DataFrame, reference: DataFrame,
                   textCol: String, idCol: String,
                   expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val might = bloomMightContain(reference, textCol, expectedItems, fpp)
    val refKeys = reference
      .select(xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__l"))
      .distinct()
    val keyed = incoming.withColumn("__h", xxhash64(col(textCol)))
    val definitelyNew = keyed.filter(!might(col("__h")))
    val confirmedNew = keyed.filter(might(col("__h")))
      .withColumn("__l", length(col(textCol)))
      .join(refKeys, Seq("__h", "__l"), "left_anti")
      .drop("__l")
    definitelyNew.unionByName(confirmedNew).drop("__h")
  }

  /** Segment-pigeonhole fuzzy (Levenshtein) near-dup PAIRS over a short
    * key column (title, URL slug, normalized prefix — edit distance over
    * full documents is not a 100 TB operation; derive the key first).
    *
    * Blocking is the PassJoin partition scheme (Li/Deng/Feng, ICDE 2011,
    * simplified to the ±d position window): the PARTITIONED string is cut
    * into d+1 contiguous segments; d edits can touch at most d of them,
    * so at least one segment survives VERBATIM in any string within
    * distance d, shifted by at most d (the net indels before it). The
    * probe side therefore enumerates, for every candidate partitioned
    * length t in [len-d, len+d], every substring matching segment i of a
    * length-t partition at start(i) ± d — and the block key (t, i,
    * segment) is a plain EQUI-join key. This blocking is COMPLETE, not
    * approximate: a plain quadratic SQL oracle verifies the output
    * exactly. A naive length-band block is NOT used — fixed-width keys
    * (every title truncated to the same length) collapse all rows into
    * one band and the join degenerates to all-pairs.
    *
    * Roles: the partitioned side is the LONGER string (ties: lower id),
    * so partitioning always has >= d+1 characters to cut whenever any
    * qualifying partner exists on the probe side. Strings shorter than
    * d+1 characters pair with each other unconditionally (max(len) <= d
    * implies distance <= d) — the tiny bucket is a self-join of that
    * residual population only.
    *
    * Scale shape: probe-side expansion is (2d+1)·(d+1)·(2d+1) short
    * substring keys per row WORST case (clamps shrink it) — linear in
    * rows, never quadratic; candidates deduplicate per pair before the
    * verify, and the verify is Spark's THRESHOLDED levenshtein kernel
    * (O(d·min(m,n)), early-abandon), evaluated once per candidate pair.
    *
    * Shuffle diet (r14, guide §2.3): the exploded block rows carry an
    * 8-byte `xxhash64(t, i, segment)` block key plus (id, len) — never
    * the key STRINGS, which would otherwise be replicated across every
    * one of the up-to-(2d+1)·(d+1)·(2d+1) probe rows and both candidate
    * shuffles. A 64-bit block-key collision can only ADD a candidate
    * pair, never lose one (the blocking lemma guarantees every true pair
    * still collides on a REAL shared segment), and every candidate is
    * verified by the exact thresholded levenshtein — so the output set is
    * provably identical to the string-keyed formulation. Key strings are
    * re-attached AFTER per-pair dedup, by joining the (id -> key) table
    * twice, so each string crosses the wire once per SURVIVING pair.
    * REQUIRES unique ids: the post-dedup key re-attach joins on id, so a
    * duplicated id would multiply its pairs (and mix key combinations) —
    * dedup ids upstream (every catalog caller passes a primary key). */
  def fuzzyPairs(df: DataFrame, keyCol: String, idCol: String,
                 maxDist: Int = 2): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val d = maxDist
    val k = d + 1 // segments in a partition
    val keyed = df.select(col(idCol).as("id"), col(keyCol).as("k"),
      length(col(keyCol)).as("len"))
    def segLen(t: Column, i: Column): Column =
      floor(t / k).cast("int") + when(i < t % k, 1).otherwise(0)
    def segStart(t: Column, i: Column): Column = // 0-based
      (i * floor(t / k).cast("int") + least(i, t % k)).cast("int")
    // partitioned side: own-length segments, one 8-byte block-key hash per
    // segment (never the strings — see "shuffle diet" above)
    val parts = keyed.filter(col("len") >= k).select(col("id"), col("len"),
        explode(transform(sequence(lit(0), lit(d)), i =>
          struct(col("len").as("t"), i.as("i"),
            col("k").substr(segStart(col("len"), i) + 1,
              segLen(col("len"), i)).as("s")))).as("blk"))
      .select(col("id").as("pid"), col("len").as("plen"),
        xxhash64(col("blk.t"), col("blk.i"), col("blk.s")).as("__bh"))
    // probe side: for every candidate partitioned length t >= own length
    // (role: partitioned side is the longer string) with t <= len + d,
    // every substring matching segment i of a length-t partition at
    // start(i) +/- d. sequence(a, b) DESCENDS when a > b — empty windows
    // must be guarded to an empty array, not a reversed one.
    val m = length(col("k"))
    // len=0 would make the outer sequence descend (k > 0+d); an empty
    // key's qualifying partners are all shorter than k, so its pairs are
    // covered by the tiny bucket — exclude it from the probe side
    // multi-match-aware substring selection (PassJoin, Li/Deng/Feng/Wang
    // 2011 §4.2; r15, VERDICT r14 item 4): for segment i (0-based) of a
    // length-t partition and probe length difference Δ = len − t, a
    // matching substring's start can shift from the segment start by at
    // most min(i, Δ+(d−i)) right and max(−i, Δ−(d−i)) left — the edits
    // BEFORE the segment bound the left shift by i (else an earlier
    // segment already matched cleanly, by pigeonhole) and the edits AFTER
    // it bound the alignment of the remainder. Every true pair still
    // collides on its earliest cleanly-matching segment, so the blocking
    // stays COMPLETE (pinned by the brute-force differential spec); the
    // window shrinks from the safe ±d (2d+1 = 9 starts at d=4) to ≤ d+1,
    // roughly halving the probe-side explosion and the candidate join
    // volume it feeds (sf1: 9.14M → measured below in OPTIMIZATION_r15).
    val probes = keyed.filter(col("len") >= 1).select(col("id"), col("len"),
        explode(flatten(flatten(transform(
          sequence(greatest(col("len"), lit(k)), col("len") + d), t =>
            transform(sequence(lit(0), lit(d)), i => {
              val sl = segLen(t, i); val ss = segStart(t, i)
              val dlt = col("len") - t
              val lo = greatest(ss + greatest(-i, dlt - (lit(d) - i)), lit(0))
              val hi = least(ss + least(i, dlt + (lit(d) - i)), m - sl)
              when(hi >= lo, transform(sequence(lo, hi), p =>
                struct(t.as("t"), i.as("i"), col("k").substr(p + 1, sl).as("s"))))
                .otherwise(array().cast("array<struct<t:int,i:int,s:string>>"))
            }))))).as("blk"))
      .select(col("id").as("qid"), col("len").as("qlen"),
        xxhash64(col("blk.t"), col("blk.i"), col("blk.s")).as("__bh"))
    // longer-string-partitions role (ties: lower id) kills the mirror
    val role = col("plen") > col("qlen") ||
      (col("plen") === col("qlen") && col("pid") < col("qid"))
    val candPairs = parts.join(probes, Seq("__bh"))
      .filter(role)
      .select(least(col("pid"), col("qid")).as("id1"),
        greatest(col("pid"), col("qid")).as("id2"))
      .dropDuplicates("id1", "id2")
    val candidates = candPairs
      .join(keyed.select(col("id").as("id1"), col("k").as("k1")), "id1")
      .join(keyed.select(col("id").as("id2"), col("k").as("k2")), "id2")
    val dist = levenshtein(col("k1"), col("k2"), d)
    val big = candidates.filter(dist >= 0)
      .select(col("id1"), col("id2"), dist.as("dist"))
    // tiny bucket: every pair of strings shorter than d+1 chars qualifies
    // (distance <= max(len) <= d); self-join of the residual only
    val tiny = keyed.filter(col("len") < k)
    val tinyPairs = tiny.select(col("id").as("id1"), col("k").as("k1"))
      .crossJoin(tiny.select(col("id").as("id2"), col("k").as("k2")))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("k1"), col("k2"), d).as("dist"))
    big.unionByName(tinyPairs)
  }

  /** SimHash near-dup pairs: block on 4 × 16-bit signature prefixes (two
    * signatures within Hamming distance <=3 share at least one identical
    * 16-bit quarter by pigeonhole), join per block, verify Hamming. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    // signature phase = pure map pass (native kernel), no shuffle until
    // the quarter-block join
    signaturePairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig")), maxHamming)

  /** Pigeonhole-blocked near-dup PAIRS over ANY 64-bit signature column
    * (SimHash for text, [[Multimodal.imageDHash]] for images, ...):
    * `sigd` must have columns (id, sig). Two signatures within Hamming
    * distance <= 3 share at least one identical 16-bit quarter, so only
    * quarter-block collisions ever meet. */
  def signaturePairs(sigd: DataFrame, maxHamming: Int = 3): DataFrame =
    Materialize(sigd.sparkSession) { m =>
    // 4 quarters pigeonhole Hamming <= 3 ONLY: at distance 4 one flipped
    // bit per quarter defeats the blocking and pairs silently vanish —
    // reject rather than return an incomplete pair set
    require(maxHamming >= 0 && maxHamming <= 3,
      s"16-bit-quarter blocking is complete only for maxHamming <= 3, got $maxHamming")
    // the signature table feeds BOTH sides of the quarter-block self-join
    // — computed signatures (md5-tier aggregations, image dhashes, ...)
    // would otherwise run twice. A caller-persisted sigd keeps its cache.
    val sigP = m.cache(sigd)
    val blocked = sigP.select(col("id"), col("sig"),
      explode(array((0 until 4).map { q =>
        struct(lit(q).as("q"),
          shiftright(col("sig"), q * 16).bitwiseAND(0xFFFFL).as("qh"))
      }: _*)).as("blk"))
      .select(col("id"), col("sig"), col("blk.q"), col("blk.qh"))
    val l = blocked.select(col("q"), col("qh"), col("id").as("id1"), col("sig").as("sig1"))
    val r = blocked.select(col("q"), col("qh"), col("id").as("id2"), col("sig").as("sig2"))
    val result = l.join(r, Seq("q", "qh")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hamming(col("sig1"), col("sig2")).as("hamming"))
      .dropDuplicates("id1", "id2")
      .filter(col("hamming") <= maxHamming)
    m.keep(m.pin(result))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embedding space with the deterministic Lloyd iteration of
    * [[Cluster.kmeansAssign]], then WITHIN each cluster flag a row as a
    * duplicate iff some LOWER-id member sits within `tau` cosine of it —
    * the per-cluster epsilon-ball pruning that makes semantic dedup
    * tractable (pairs only ever form inside a cluster, never across the
    * corpus). Unlike [[embeddingPairs]] (seeded hyperplane sketches,
    * candidate recall < 1), every arithmetic choice here is pinned —
    * k-means init/tie-breaks/decimal means, left-fold cosine — so the
    * output is exactly replayable by an external engine (the `q_dedup_semantic`
    * DuckDB oracle unrolls the same rounds and the same pairwise compare).
    *
    * Output: one row per input — (idCol, cluster, is_dup, dup_of) where
    * `dup_of` is the smallest lower id within `tau` (null when none, in
    * which case the row is kept).
    *
    * Scale shape (100 TB): the pairwise stage shuffles on cluster id and
    * is quadratic ONLY within a cluster — the SemDeDup contract is that
    * `k` grows with the corpus so cluster sizes stay bounded (the paper
    * uses ~100k clusters for web scale; `maxCluster` caps the blow-up if
    * a degenerate centroid attracts too much mass: clusters over the cap
    * are pruned on their `maxCluster` smallest ids only, keeping the join
    * bounded while still deduping the densest core). Vectors travel the
    * shuffle once each side; everything downstream of the join is one
    * codegen'd dot kernel plus a groupBy on the 8-byte id. */
  def semantic(df: DataFrame, vecCol: String, idCol: String,
               k: Int = 8, iters: Int = 2, tau: Double = 0.92,
               maxCluster: Int = Int.MaxValue): DataFrame = {
    require(tau > -1.0 && tau <= 1.0, s"tau in (-1, 1], got $tau")
    val assign = Cluster.kmeansAssign(df, vecCol, idCol, k, iters)
      .select(col(idCol).cast("long").as("__id"), col("cluster"))
    val base = df.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .join(assign, "__id")
    val pool =
      if (maxCluster == Int.MaxValue) base
      else base.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("cluster").orderBy("__id")))
        .filter(col("__rn") <= maxCluster).drop("__rn")
    val dups = pool.select(col("cluster"), col("__id").as("__aid"), col("__v").as("__av"))
      .join(pool.select(col("cluster"), col("__id").as("__bid"), col("__v").as("__bv")),
        "cluster")
      .filter(col("__bid") < col("__aid"))
      .filter(Similarity.cosine(col("__av"), col("__bv")) >= tau)
      .groupBy(col("__aid")).agg(min(col("__bid")).as("dup_of"))
    base.join(dups, base("__id") === dups("__aid"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }
}
