package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** Dedup / similarity / text-analysis / multimodal operator tests. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("knnGraphGemm reproduces the brute kNN graph exactly") {
    val emb = sf("embeddings")
    val brute = Similarity.knnGraphBrute(emb, "embedding", "vec_id", 10)
      .orderBy("qid", "id").collect().toSeq
    val gemm = Similarity.knnGraphGemm(emb, "embedding", "vec_id", 10)
      .orderBy("qid", "id").collect().toSeq
    assert(gemm == brute) // ids AND bit-exact cosines
  }

  test("knnGraphGemm is block-size invariant (candidate pools per partition)") {
    val emb = sf("embeddings").limit(120).repartition(5)
    val a = Similarity.knnGraphGemm(emb, "embedding", "vec_id", 5)
      .orderBy("qid", "id").collect().toSeq
    val b = Similarity.knnGraphGemm(emb, "embedding", "vec_id", 5,
      blockRows = 7, qChunk = 3).orderBy("qid", "id").collect().toSeq
    assert(a == b)
  }

  test("knnLabelTransfer: majority vote over clusters, deterministic ties, null labels excluded") {
    // two tight clusters around orthogonal axes: label 1 near e1, label 2
    // near e2; a query close to e1 must take label 1 by clear majority
    def v(x: Double, y: Double, z: Double) = Seq(x.toFloat, y.toFloat, z.toFloat)
    val rows =
      (0 until 6).map(i => (i.toLong, v(1.0, 0.01 * i, 0.0), Some(1))) ++
      (6 until 12).map(i => (i.toLong, v(0.0, 1.0, 0.01 * (i - 6)), Some(2))) ++
      // unlabeled rows sit AT the query point: excluded from the
      // neighbor corpus entirely, or they would crowd out labeled votes
      Seq((20L, v(1.0, 0.02, 0.0), None: Option[Int]))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val q = Seq((100L, v(1.0, 0.03, 0.0))).toDF("vec_id", "embedding")
    val out = Similarity.knnLabelTransfer(emb, "embedding", "vec_id", "label",
      k = 5, queries = Some(q)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("qid") == 100L)
    assert(out(0).getAs[Int]("pred_label") == 1)
    assert(out(0).getAs[Long]("votes") == 5)
    // exact 2-2 vote split: the SMALLER label wins the tie
    val tied = (Seq((1L, v(1.0, 0.0, 0.0), Some(7)), (2L, v(1.0, 0.0, 0.0), Some(7)),
      (3L, v(0.0, 1.0, 0.0), Some(3)), (4L, v(0.0, 1.0, 0.0), Some(3))))
      .toDF("vec_id", "embedding", "label")
    val qt = Seq((100L, v(1.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    val t = Similarity.knnLabelTransfer(tied, "embedding", "vec_id", "label",
      k = 4, queries = Some(qt)).collect()(0)
    assert(t.getAs[Int]("pred_label") == 3 && t.getAs[Long]("votes") == 2)
    // self-query is leave-one-out: a vector never votes for itself
    val loo = Similarity.knnLabelTransfer(emb, "embedding", "vec_id", "label",
      k = 11).filter(col("qid") === 0L).collect()(0)
    assert(loo.getAs[Long]("votes") <= 11)
  }

  test("scriptReport counts non-ASCII classes on planted mixed-script text") {
    // the corpus fixtures are ASCII, so the Cyrillic/Greek/CJK counters
    // only ever see zero there — plant real mixed-script rows
    val df = Seq(
      ("ru", "пример text пример"),   // 12 Cyrillic chars + 4 latin
      ("el", "δοκιμή abc"),           // 6 Greek + 3 latin
      ("zh", "测试中文 test1"),        // 4 CJK + 4 latin + 1 digit
      ("en", "plain ascii 42")
    ).toDF("lang", "text")
    val out = TextAnalysis.scriptReport(df, Seq("lang"), "text")
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    assert(out("ru").getAs[Long]("cyrillic") == 12)
    assert(out("ru").getAs[Long]("latin") == 4)
    assert(out("el").getAs[Long]("greek") == 6)
    assert(out("zh").getAs[Long]("cjk") == 4)
    assert(out("zh").getAs[Long]("digit") == 1)
    assert(out("en").getAs[Long]("cyrillic") == 0)
    // chars decomposes exactly: every code point lands in one class
    for ((_, r) <- out)
      assert(r.getAs[Long]("chars") ==
        r.getAs[Long]("latin") + r.getAs[Long]("digit") +
        r.getAs[Long]("cyrillic") + r.getAs[Long]("greek") +
        r.getAs[Long]("cjk") + r.getAs[Long]("whitespace") +
        r.getAs[Long]("other"))
  }

  test("ratioDecimal9 is exact integer-derived DECIMAL(18,9), half-up") {
    val df = Seq((1L, 1024L), (1L, 3L), (2L, 3L), (5L, 4L), (0L, 7L), (3L, 0L))
      .toDF("n", "d")
    val got = df.select(col("n"), col("d"),
      TextAnalysis.ratioDecimal9(col("n"), col("d")).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[java.math.BigDecimal]("r").toPlainString).toMap
    // 1/1024 = 0.0009765625 exactly: a TRUE half at digit 10 — the case
    // round(double, 9) resolves differently across engines; here it is
    // integer round-half-up by construction
    assert(got((1L, 1024L)) == "0.000976563")
    assert(got((1L, 3L)) == "0.333333333")
    assert(got((2L, 3L)) == "0.666666667")
    assert(got((5L, 4L)) == "1.250000000")
    assert(got((0L, 7L)) == "0.000000000")
    assert(got((3L, 0L)) == "0.000000000") // zero denominator -> 0
    val tpe = df.select(TextAnalysis.ratioDecimal9(col("n"), col("d")))
      .schema.fields.head.dataType
    // precision 18, NOT 20: ≤18 is the int64-backed tier in both engines;
    // >18 flips to 128-bit repr (DuckDB HUGEINT storage / parquet FLBA),
    // the class the r12/r13 driver-hash adjudications convicted
    assert(tpe == org.apache.spark.sql.types.DecimalType(18, 9))
  }

  test("fertilityReport caseless kernel equals legacy on caseless text; caseless on mixed") {
    val df = Seq(
      ("a", "foo bar baz qux"), ("a", "one2three"),
      ("b", "x.y,z"), ("b", "plain words here"))
      .toDF("source", "text")
    val neu = TextAnalysis.fertilityReport(df, Seq("source"), "text")
      .orderBy("source").collect()
    // the lowered-construct counts the deleted legacyDouble path used —
    // recomputed inline so the kernel-equivalence pin survives the
    // r14 construct unification
    val leg = df.groupBy("source")
      .agg(sum(TextAnalysis.tokenCountWsNonEmpty(col("text")).cast("long"))
          .as("ws_tokens"),
        sum(TextAnalysis.tokenCountBpe(col("text")).cast("long"))
          .as("bpe_tokens"))
      .orderBy("source").collect()
    // on lowercase-only text the caseless and lowered constructs agree
    for ((n, l) <- neu.zip(leg)) {
      assert(n.getAs[Long]("ws_tokens") == l.getAs[Long]("ws_tokens"))
      assert(n.getAs[Long]("bpe_tokens") == l.getAs[Long]("bpe_tokens"))
    }
    // mixed case: ONE letter run either way ("FooBar" is one token), so
    // the published counts are case-stable by construction
    val mixed = Seq(("m", "FooBar BAZ9 x"), ("m", "foobar baz9 x"))
      .toDF("source", "text")
    val rep = TextAnalysis.fertilityReport(mixed, Seq("source"), "text").collect()(0)
    assert(rep.getAs[Long]("ws_tokens") == 6)
    assert(rep.getAs[Long]("bpe_tokens") == 8) // FooBar|foobar, BAZ|baz, 9, x
    // r15: presented as DOUBLE (e9/1e9; scale-9 DECIMAL is driver-hash red)
    assert(rep.getAs[Double]("fertility") == 1.333333333)
  }

  test("ratioDouble9 presents the exact e9 integer as e9/1e9 in binary64") {
    val df = Seq((1L, 1024L), (1L, 3L), (2L, 3L), (5L, 4L), (0L, 7L), (3L, 0L))
      .toDF("n", "d")
    val got = df.select(col("n"), col("d"),
      TextAnalysis.ratioDouble9(col("n"), col("d")).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // each expected literal is the binary64 nearest to the 9dp decimal —
    // the same value CAST(e9 AS DOUBLE)/1e9 must produce on any IEEE engine
    assert(got((1L, 1024L)) == 0.000976563) // true half at digit 10, half-up
    assert(got((1L, 3L)) == 0.333333333)
    assert(got((2L, 3L)) == 0.666666667)
    assert(got((5L, 4L)) == 1.25)
    assert(got((0L, 7L)) == 0.0)
    assert(got((3L, 0L)) == 0.0) // zero denominator -> 0
    val tpe = df.select(TextAnalysis.ratioDouble9(col("n"), col("d")))
      .schema.fields.head.dataType
    assert(tpe == org.apache.spark.sql.types.DoubleType)
  }

  test("planted-pattern fixtures invert exactly: dHash/afp == md5 pattern") {
    // the property the md5-tier codec gauges stand on: for any pattern,
    // the real PNG/WAV round-trip reproduces the planted 64 bits
    val patterns = Seq(0L, -1L, 0x5A5A5A5A5A5A5A5AL) ++
      (0 until 16).map(i => Multimodal.plantedPattern("t:", i.toLong, i % 4))
    for (p <- patterns) {
      val img = Multimodal.encodeDhashPng(p)
      val wav = Multimodal.encodeFpWav(p)
      val df = Seq((1L, img, wav)).toDF("media_id", "img", "wav")
      val dh = Multimodal.imageDHash(
        df.select(col("media_id"), col("img").as("data"))).select("dhash")
        .head().getLong(0)
      val af = Multimodal.audioFingerprint(
        df.select(col("media_id"), col("wav").as("data"))).select("afp")
        .head().getLong(0)
      assert(dh == p, f"dHash ${dh}%016x != planted ${p}%016x")
      assert(af == p, f"afp ${af}%016x != planted ${p}%016x")
    }
  }

  test("imageDHash: byte-identical images collide; planted pairs found at Hamming 0") {
    val docs = (0L until 40L).toDF("doc_id")
    val base = Multimodal.fabricateImages(docs, "doc_id")
    val copies = base.filter(col("media_id") === 3L)
      .withColumn("media_id", lit(1000003L))
    val hashed = Multimodal.imageDHash(base.unionByName(copies))
    // identical payloads -> identical hash
    val h3 = hashed.filter(col("media_id").isin(3L, 1000003L))
      .select("dhash").collect().map(_.getLong(0))
    assert(h3.length == 2 && h3(0) == h3(1))
    val pairs = Dedup.signaturePairs(
      hashed.select(col("media_id").as("id"), col("dhash").as("sig")),
      maxHamming = 0).collect()
    assert(pairs.exists(r => r.getLong(0) == 3L && r.getLong(1) == 1000003L))
    // a corrupt payload hashes to null and never pairs
    val junk = Seq((99999L, Array[Byte](1, 2, 3))).toDF("media_id", "data")
    val nh = Multimodal.imageDHash(junk).select("dhash").head()
    assert(nh.isNullAt(0))
  }

  test("audioFingerprint: identical audio collides; resampled copy stays near") {
    val docs = (0L until 20L).toDF("doc_id")
    val base = Multimodal.fabricateAudio(docs, "doc_id")
    val hashed = Multimodal.audioFingerprint(base)
      .select("media_id", "afp").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed.size == 20)
    // identity re-encode (same rate) keeps the fingerprint bit-for-bit
    val same = Multimodal.resampleAudio(base.filter(col("media_id") === 5L), 8000)
    val sh = Multimodal.audioFingerprint(same).select("afp").head().getLong(0)
    assert(sh == hashed(5L))
    // a genuinely downsampled copy (worst case: the fixture is full-band noise)
    // still sits closer to its source than to an unrelated clip
    val re = Multimodal.resampleAudio(base.filter(col("media_id") === 5L), 4000)
    val rh = Multimodal.audioFingerprint(re).select("afp").head().getLong(0)
    val near = java.lang.Long.bitCount(rh ^ hashed(5L))
    val far = java.lang.Long.bitCount(rh ^ hashed(6L))
    assert(near < far, s"near $near !< far $far")
    // corrupt payload -> null, not a task failure
    val junk = Seq((1L, Array[Byte](9, 9))).toDF("media_id", "data")
    assert(Multimodal.audioFingerprint(junk).select("afp").head().isNullAt(0))
  }

  test("rrfFuse: reciprocal ranks sum across runs, ties break by id") {
    val r1 = Seq((1L, 9.0), (2L, 8.0)).toDF("doc", "score")
    val r2 = Seq((2L, 5.0), (3L, 4.0)).toDF("vid", "sim")
    val out = Retrieval.rrfFuse(Seq((r1, "doc", "score"), (r2, "vid", "sim")),
        k0 = 0, topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // id2 ranks 2 and 1 -> 1/2 + 1/1 = 1.5 over both runs
    assert(out.toSeq == Seq((2L, 1.5, 2L), (1L, 1.0, 1L), (3L, 0.5, 1L)))
  }

  test("rrfFuse: string ids fuse natively instead of collapsing to null") {
    val r1 = Seq(("docA", 9.0), ("docB", 8.0)).toDF("doc", "score")
    val r2 = Seq(("docB", 5.0), ("docC", 4.0)).toDF("doc", "sim")
    val out = Retrieval.rrfFuse(Seq((r1, "doc", "score"), (r2, "doc", "sim")),
        k0 = 0, topK = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq ==
      Seq(("docB", 1.5, 2L), ("docA", 1.0, 1L), ("docC", 0.5, 1L)))
  }

  test("rrfFuse rejects mixed string/numeric id schemes up front") {
    // union's widening would string-promote the numeric run and fuse 1L
    // with "1" silently — the guard must fail loudly instead
    val rs = Seq(("1", 9.0)).toDF("doc", "score")
    val rn = Seq((1L, 5.0)).toDF("doc", "sim")
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq((rs, "doc", "score"), (rn, "doc", "sim")))
    }
  }

  test("knnGraphGemm and brute agree on NaN-element query vectors: both drop them") {
    val emb = sf("embeddings").limit(30).select("vec_id", "embedding")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val nanVec = Float.NaN +: Seq.fill(dim - 1)(1.0f)
    val poisoned = spark.createDataFrame(
      Seq((8888L, nanVec)).toDF("vec_id", "embedding").rdd, emb.schema)
    val q = emb.filter(col("vec_id") < 8).unionByName(poisoned)
    val brute = Similarity.knnGraphBrute(emb, "embedding", "vec_id", 5,
      queries = Some(q)).orderBy("qid", "id").collect().toSeq
    val gemm = Similarity.knnGraphGemm(emb, "embedding", "vec_id", 5,
      queries = Some(q)).orderBy("qid", "id").collect().toSeq
    assert(gemm == brute)
    assert(!brute.exists(_.getLong(0) == 8888L)) // NaN norm fails nq > 0
  }

  test("geometryReport: bucket arithmetic and same-label split") {
    val df = Seq((1L, Seq(1f, 0f), 1), (2L, Seq(1f, 0f), 1), (3L, Seq(0f, 1f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.geometryReport(df, "embedding", "vec_id", "label",
        strides = Seq(1L), bins = 4)
      .collect().map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2))).toSet
    // (1,2): cosine 1 -> top bucket clamps to 3, same label
    // (2,3): cosine 0 -> bucket 2, cross label
    assert(out == Set((3, true, 1L), (2, false, 1L)))
  }

  test("groupCentroids/embeddingDrift: exact means, self-group cosine 1") {
    val df = Seq((1, Seq(1f, 0f)), (1, Seq(3f, 0f)), (2, Seq(0f, 2f)))
      .toDF("label", "embedding")
    val cents = Cluster.groupCentroids(df, "embedding", "label")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    assert(cents(1) == ((2L, Seq(2.0, 0.0)))) // mean of (1,0),(3,0)
    assert(cents(2) == ((1L, Seq(0.0, 2.0))))
    // a single-group corpus: group centroid IS the global centroid
    val one = df.filter(col("label") === 1)
    val drift = Cluster.embeddingDrift(one, "embedding", "label").collect()
    assert(drift.length == 1 && drift(0).getDouble(2) == 1.0 &&
      drift(0).getDouble(3) == 2.0)
  }

  test("labelPropagation clamps seeds and spreads neighbor means") {
    // path graph a-b-c (undirected) + isolated edge d-e; seed a=1.0
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("d", "e"), ("e", "d"))
      .toDF("src", "dst")
    val seeds = Seq(("a", 1.0)).toDF("id", "label")
    val out = Graph.labelPropagation(edges, seeds, "src", "dst", "id", "label",
        iters = 2, prior = 0.5)
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getDouble(2)))).toMap
    assert(out("a") == ((true, 1.0))) // clamped
    // round1: b = mean(a=1, c=.5) = .75; c = mean(b=.5) = .5
    // round2: b = mean(1, .5) = .75;     c = mean(b=.75) = .75
    assert(out("b") == ((false, 0.75)) && out("c") == ((false, 0.75)))
    // the d-e pair never sees a seed: stays at the mutual prior
    assert(out("d") == ((false, 0.5)) && out("e") == ((false, 0.5)))
  }

  test("labelPropagation salted dst aggregate is bit-identical under hub skew") {
    // star: every node points at the hub, hub points back — the hub's
    // in-aggregate concentrates all edges; salting must be exact
    val rnd = new scala.util.Random(13)
    val edges = ((1 to 200).map(i => s"n$i" -> "hub") ++
      (1 to 200).map(i => "hub" -> s"n$i") ++
      (1 to 100).map(_ => s"n${rnd.nextInt(200) + 1}" -> s"n${rnd.nextInt(200) + 1}"))
      .toDF("src", "dst").repartition(5)
    val seeds = Seq(("n1", 1.0), ("n2", 0.0)).toDF("id", "label")
    val plain = Graph.labelPropagation(edges, seeds, "src", "dst", "id", "label",
      iters = 3).orderBy("node").collect().toSeq
    val salted = Graph.labelPropagation(edges, seeds, "src", "dst", "id", "label",
      iters = 3, dstSalt = 8).orderBy("node").collect().toSeq
    assert(salted == plain)
  }

  test("minhashPairsMd5: subset of exact Jaccard pairs, full recall on planted dups") {
    val docs = sf("documents").filter(col("doc_id") % 25 === 0)
      .select("doc_id", "text")
    val near = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" tail edit")).as("text"))
    val corpus = docs.unionByName(near)
    val exact = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
        shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairsMd5(corpus, "text", "doc_id",
        shingleSize = 3, numHashes = 16, bands = 4, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH can only MISS pairs (band collision required), never invent
    // them: the verify step re-checks exact Jaccard
    assert(lsh.subsetOf(exact), s"invented pairs: ${lsh -- exact}")
    // planted near-dups are high-Jaccard: 16x4 banding finds them all
    val planted = docs.collect().map(_.getLong(0))
      .map(id => (id, id + 1000000)).toSet.intersect(exact)
    assert(planted.nonEmpty && planted.subsetOf(lsh),
      s"missed planted pairs: ${planted -- lsh}")
  }

  test("prefixJaccardJoin equals brute all-pairs word Jaccard (exactness, both directions)") {
    // corpus tier: real docs + planted near-dups, threshold at the
    // catalog value
    val docs = sf("documents").filter(col("doc_id") % 11 === 0)
      .select("doc_id", "text")
    val near = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" extra trailing words appended")).as("text"))
    val corpus = docs.unionByName(near)
    def brute(df: org.apache.spark.sql.DataFrame, t: Double) = {
      val w = df.select(col("doc_id"),
          array_distinct(filter(split(trim(lower(col("text"))), "\\s+"),
            x => length(x) > 0)).as("s"))
        .filter(size(col("s")) > 0)
      val a = w.select(col("doc_id").as("id1"), col("s").as("s1"))
      val b = w.select(col("doc_id").as("id2"), col("s").as("s2"))
      val inter = size(array_intersect(col("s1"), col("s2"))).cast("double")
      val uni = (size(col("s1")) + size(col("s2"))).cast("double") - inter
      a.crossJoin(b).filter(col("id1") < col("id2"))
        .withColumn("jaccard", when(uni === 0.0, lit(1.0)).otherwise(inter / uni))
        .filter(col("jaccard") >= t)
        .select("id1", "id2", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val got = Dedup.prefixJaccardJoin(corpus, "text", "doc_id", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute(corpus, 0.6))

    // adversarial tier: boundary-exact jaccards (i/u == t exactly),
    // identical sets, singletons, subset chains — prefix length edges
    val edge = Seq(
      1L -> "a b c d e",      // vs 2: inter 3 / union 7 < 0.5
      2L -> "c d e f g",
      3L -> "a b c d e",      // identical to 1 -> jaccard 1.0
      4L -> "a",              // singleton
      5L -> "a b",            // {a} vs {a b}: 1/2 = 0.5 boundary EXACT
      6L -> "a b c d",        // vs 1: 4/5 = 0.8
      7L -> "x",              // isolated singleton
      8L -> "a b c d e f g h i j"  // superset: vs 1 -> 5/10 = 0.5 boundary
    ).toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.5, 0.6, 1.0)) {
      val g = Dedup.prefixJaccardJoin(edge, "text", "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(g == brute(edge, t), s"threshold $t")
    }
  }

  test("contrastiveTriplets: negatives are never near-dups, ranks contiguous, deterministic") {
    val docs = sf("documents").filter(col("doc_id") % 7 === 0)
      .select("doc_id", "text")
    val near = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" extra trailing words appended")).as("text"))
    val corpus = docs.unionByName(near)
    val out = Preference.contrastiveTriplets(corpus, "text", "doc_id", 0.6, 3)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // the exact positive set (ground truth both directions)
    val pos = Dedup.prefixJaccardJoin(corpus, "text", "doc_id", 0.6)
      .collect().flatMap(r => Seq((r.getLong(0), r.getLong(1)),
        (r.getLong(1), r.getLong(0)))).toSet
    rows.foreach { r =>
      val (a, p, n) = (r.getLong(0), r.getLong(1), r.getLong(3))
      assert(pos((a, p)), s"pos $a->$p not a true pair")
      assert(!pos((a, n)), s"negative $a->$n is secretly a near-dup")
      assert(n != a && n != p)
    }
    // per-anchor ranks are 1..k contiguous
    rows.groupBy(_.getLong(0)).foreach { case (a, rs) =>
      assert(rs.map(_.getInt(4)).sorted.toSeq == (1 to rs.length), s"anchor $a")
    }
    // repartition-invariant
    val out2 = Preference.contrastiveTriplets(corpus.repartition(11),
      "text", "doc_id", 0.6, 3).collect()
    assert(out2.map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
    // bucket auto-sizing floors at 16 on a small corpus: the default
    // (auto) run above must equal an explicitly pinned buckets = 16 run
    val pinned = Preference.contrastiveTriplets(corpus, "text", "doc_id",
      0.6, 3, buckets = 16).collect()
    assert(pinned.map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
    // salt-INVARIANT (r15 skew salt): the salt only re-keys the negative
    // bucket join — every (anchor, candidate) pair still meets exactly
    // once — so salting off (1), the auto-salt cap and an explicit factor
    // above it must all equal the default (auto = defaultParallelism
    // capped at AutoSaltCap) run
    for (s <- Seq(1, Preference.AutoSaltCap, 2 * Preference.AutoSaltCap)) {
      val salted = Preference.contrastiveTriplets(corpus, "text", "doc_id",
        0.6, 3, saltFactor = s).collect()
      assert(salted.map(_.toSeq).toSet == rows.map(_.toSeq).toSet,
        s"saltFactor=$s changed the output")
    }
  }

  test("frequentPairs: per-basket dedup, singleton prune, canonical pairs") {
    // baskets: {a,b,c}, {a,b}, {a,b,a(dup)}, {c,x} — support(a,b)=3,
    // support(a,c)=support(b,c)=1, x is infrequent (1 basket)
    val rows = Seq((1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
      (3, "a"), (3, "b"), (3, "a"), (4, "c"), (4, "x"))
    val df = rows.toDF("basket", "item")
    val got = HeavyHitters.frequentPairs(df, col("basket"), col("item"), 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a", "b", 3L)))
    // at support 1, the full canonical pair set (x included)
    val all = HeavyHitters.frequentPairs(df, col("basket"), col("item"), 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(all == Set(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 1L),
      ("c", "x", 1L)))
  }

  test("transitionMatrix: strict per-key ordering, exact row-normalized probabilities") {
    def t(ms: Long) = new java.sql.Timestamp(ms)
    // user 1: a->b->a->c ; user 2: a->b — transitions from a: b,c,b
    val rows = Seq(
      (1L, t(1000), "a", 1L), (1L, t(2000), "b", 2L),
      (1L, t(3000), "a", 3L), (1L, t(4000), "c", 4L),
      (2L, t(1000), "a", 5L), (2L, t(2000), "b", 6L))
    val df = rows.toDF("u", "ts", "e", "id")
    val got = HeavyHitters.transitionMatrix(df, col("u"), col("ts"),
        col("e"), col("id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == Set(
      ("a", "b", 2L, 2.0 / 3.0), ("a", "c", 1L, 1.0 / 3.0),
      ("b", "a", 1L, 1.0)))
    // equal timestamps: the tiebreak column decides the order
    val tied = Seq((9L, t(1000), "x", 1L), (9L, t(1000), "y", 2L),
      (9L, t(1000), "z", 3L)).toDF("u", "ts", "e", "id")
    val g2 = HeavyHitters.transitionMatrix(tied, col("u"), col("ts"),
        col("e"), col("id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(g2 == Set(("x", "y"), ("y", "z")))
  }

  test("incremental agg view: applyDelta equals recompute; zeroed groups drop; chains") {
    val rnd = new scala.util.Random(11)
    val baseRows = Seq.tabulate(400)(i =>
      (s"k${rnd.nextInt(6)}", rnd.nextInt(100).toDouble, i.toLong))
    val base = baseRows.toDF("k", "v", "id")
    val state0 = Incremental.aggState(base, Seq("k"), Seq("v"))
    // delta 1: delete ids < 100, insert 50 new rows (some in a NEW key k9)
    val newRows = Seq.tabulate(50)(i =>
      (if (i % 5 == 0) "k9" else s"k${i % 6}", (i * 3).toDouble, (1000 + i).toLong))
    val d1 = base.filter(col("id") < 100).withColumn("w", lit(-1L))
      .unionByName(newRows.toDF("k", "v", "id").withColumn("w", lit(1L)))
    val s1 = Incremental.applyDelta(state0, d1, Seq("k"), Seq("v"), "w")
    val after1 = baseRows.filter(_._3 >= 100) ++ newRows
    def recompute(rows: Seq[(String, Double, Long)]) =
      Incremental.aggState(rows.toDF("k", "v", "id"), Seq("k"), Seq("v"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2))).toSet
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(snap(s1) == recompute(after1))
    // delta 2 chains on delta 1's output and ZEROES OUT key k9 entirely
    val d2 = newRows.filter(_._1 == "k9").toDF("k", "v", "id")
      .withColumn("w", lit(-1L))
    val s2 = Incremental.applyDelta(s1, d2, Seq("k"), Seq("v"), "w")
    val after2 = after1.filterNot(_._1 == "k9")
    assert(snap(s2) == recompute(after2))
    assert(!s2.collect().exists(_.getString(0) == "k9")) // dropped, not 0-row
  }

  test("cohenKappa matches the textbook worked example; degenerate group is null") {
    // classic 2x2 example: 50 items, a=20 yes/yes, d=15 no/no, b=5, c=10
    // p_o = 35/50, marginals: r1 yes 25/no 25, r2 yes 30/no 20
    // pe_num = 25*30 + 25*20 = 1250; kappa = (35*50-1250)/(2500-1250) = 0.4
    val items =
      Seq.fill(20)(("g1", "yes", "yes")) ++ Seq.fill(5)(("g1", "yes", "no")) ++
      Seq.fill(10)(("g1", "no", "yes")) ++ Seq.fill(15)(("g1", "no", "no")) ++
      // degenerate: both raters constant -> n*n == pe_num -> null kappa
      Seq.fill(7)(("g2", "x", "x"))
    val df = items.toDF("g", "r1", "r2")
    val out = Classifier.cohenKappa(df, col("r1"), col("r2"),
        Seq("g" -> col("g")))
      .orderBy("g").collect()
    assert(out.length == 2)
    val g1 = out(0)
    assert(g1.getLong(1) == 50 && g1.getLong(2) == 35 && g1.getLong(3) == 1250)
    assert(g1.getDouble(4) == 0.4)
    assert(out(1).isNullAt(4) && out(1).getLong(2) == 7)
  }

  test("preferencePairs: k-squared cap, margin filter, deterministic ties") {
    val docs = Seq(
      // group A: scores 100,90,80,70,10,5 -> top3 {1,2,3}, bottom3 {6,5,4}
      ("A", 1L, 100L), ("A", 2L, 90L), ("A", 3L, 80L),
      ("A", 4L, 70L), ("A", 5L, 10L), ("A", 6L, 5L),
      // group B: all tied scores -> ids break ties; no pair clears margin
      ("B", 7L, 50L), ("B", 8L, 50L), ("B", 9L, 50L),
      // group C: two items, margin exactly at threshold (inclusive)
      ("C", 10L, 90L), ("C", 11L, 50L)
    ).toDF("g", "id", "score")
    val out = Preference.preferencePairs(docs, Seq("g" -> col("g")),
        col("id"), col("score"), k = 3, margin = 40L)
      .select("g", "chosen_id", "rejected_id", "margin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // A: chosen {1,2,3} x rejected {4,5,6} with margin >= 40:
    //   1-4 is 30 (out), 2-4 20 (out), 3-4 10 (out); vs 5/6 all >= 40
    val expectA = for (c <- Seq(1L -> 100L, 2L -> 90L, 3L -> 80L);
                       r <- Seq(5L -> 10L, 6L -> 5L))
      yield ("A", c._1, r._1, c._2 - r._2)
    assert(out == expectA.toSet + (("C", 10L, 11L, 40L)))
    // determinism under reshuffled input
    val out2 = Preference.preferencePairs(docs.repartition(7), Seq("g" -> col("g")),
        col("id"), col("score"), k = 3, margin = 40L)
      .select("g", "chosen_id", "rejected_id", "margin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out2 == out)
    // plan: top-k heaps, not full per-group sorts
    val plan = Preference.preferencePairs(docs, Seq("g" -> col("g")),
      col("id"), col("score"), k = 3, margin = 40L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    // margin <= 0 on a small group: a doc sits in both top-k and
    // bottom-k, but a degenerate self-pair must never be emitted
    val tiny = Seq(("D", 1L, 10L), ("D", 2L, 10L)).toDF("g", "id", "score")
    val loose = Preference.preferencePairs(tiny, Seq("g" -> col("g")),
        col("id"), col("score"), k = 3, margin = 0L)
      .select("chosen_id", "rejected_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 2L), (2L, 1L)))
  }

  test("cohenKappa: null rater labels enter the marginals (pe_num) too") {
    // r1 in {yes, null}, r2 in {yes, null}: cells yy=4, y0=1, 0y=1, 00=2
    // n=8, agree=6 (null<=>null counts), marginals r1: yes 5 / null 3,
    // r2: yes 5 / null 3 -> pe_num = 5*5 + 3*3 = 34 (a plain equi-join
    // on the label would drop the 3*3 null cell)
    val items =
      Seq.fill(4)(("yes", "yes")) ++ Seq(("yes", null), (null, "yes")) ++
        Seq.fill(2)((null: String, null: String))
    val df = items.toDF("r1", "r2")
    val out = Classifier.cohenKappa(df, col("r1"), col("r2"),
      Seq("g" -> lit("g"))).collect()(0)
    assert(out.getLong(1) == 8 && out.getLong(2) == 6)
    assert(out.getLong(3) == 34)
    // kappa = (6*8 - 34) / (64 - 34) = 14/30
    assert(math.abs(out.getDouble(4) - 14.0 / 30.0) < 1e-15)
  }

  test("prefixJaccardScreen equals brute cross-side pairs; no same-side leakage") {
    val docs = sf("documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val probes = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(corpus.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" probe trailing suffix")).as("text")))
    val got = Dedup.prefixJaccardScreen(corpus, probes, "text", "doc_id", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def sets(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        array_distinct(filter(split(trim(lower(col("text"))), "\\s+"),
          x => length(x) > 0)).as("s"))
      .filter(size(col("s")) > 0)
    val inter = size(array_intersect(col("s1"), col("s2"))).cast("double")
    val uni = (size(col("s1")) + size(col("s2"))).cast("double") - inter
    val brute = sets(probes).select(col("doc_id").as("probe_id"), col("s").as("s1"))
      .crossJoin(sets(corpus).select(col("doc_id").as("corpus_id"), col("s").as("s2")))
      .withColumn("j", when(uni === 0.0, lit(1.0)).otherwise(inter / uni))
      .filter(col("j") >= 0.6)
      .select("probe_id", "corpus_id", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    assert(got.nonEmpty) // planted probes guarantee hits
    // no same-side pair can appear: probe ids are disjoint from corpus ids
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall { case (p, c, _) => !corpusIds(p) && corpusIds(c) })
  }

  test("containmentJoin equals brute all-ordered-pairs; subsets score exactly 1.0") {
    val docs = Seq(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e",          // strict subset of 1 -> C(2->1) = 1.0
      3L -> "a b c d e x",        // 5/6 of 3 in 1 (0.833), 5/6 in 2's... 5/6 ≥ .8
      4L -> "p q r s",            // disjoint
      5L -> "a b c d e f g h i j" // identical to 1: both directions 1.0
    ).toDF("doc_id", "text")
    def brute(t: Double) = {
      val w = docs.select(col("doc_id"),
          array_distinct(filter(split(trim(lower(col("text"))), "\\s+"),
            x => length(x) > 0)).as("s"))
      val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
      w.select(col("doc_id").as("id_a"), col("s").as("sa"))
        .crossJoin(w.select(col("doc_id").as("id_b"), col("s").as("sb")))
        .filter(col("id_a") =!= col("id_b"))
        .withColumn("c", inter / size(col("sa")).cast("double"))
        .filter(col("c") >= t)
        .select("id_a", "id_b", "c")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val got = Dedup.containmentJoin(docs, "text", "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute(t), s"t=$t")
    }
    val g08 = Dedup.containmentJoin(docs, "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(g08((2L, 1L)) == 1.0)       // subset containment exact
    assert(!g08.contains((1L, 2L)))    // asymmetric: 5/10 < 0.8
    assert(g08((5L, 1L)) == 1.0 && g08((1L, 5L)) == 1.0)
    // corpus differential at the catalog threshold
    val corpus = sf("documents").filter(col("doc_id") % 13 === 0)
      .select("doc_id", "text")
    val ta = split(trim(lower(col("text"))), "\\s+")
    val full = corpus.unionByName(corpus.select(
      (col("doc_id") + 3000000).as("doc_id"),
      array_join(slice(ta, lit(1), (size(ta) / 2).cast("int")), " ").as("text")))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    val w = full.select(col("doc_id"),
        array_distinct(filter(split(trim(lower(col("text"))), "\\s+"),
          x => length(x) > 0)).as("s"))
      .filter(size(col("s")) > 0)
    val bruteC = w.select(col("doc_id").as("id_a"), col("s").as("sa"))
      .crossJoin(w.select(col("doc_id").as("id_b"), col("s").as("sb")))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("c", inter / size(col("sa")).cast("double"))
      .filter(col("c") >= 0.8).select("id_a", "id_b", "c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotC = Dedup.containmentJoin(full, "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotC == bruteC)
  }

  test("dropContained: truncations drop, identical sets keep the smallest id") {
    val docs = Seq(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e",          // subset of 1 -> drops
      3L -> "a b c d e x",        // 5/6 = 0.833 < 0.9 -> kept
      4L -> "p q r s",            // disjoint -> kept
      5L -> "a b c d e f g h i j" // identical to 1 -> larger id drops
    ).toDF("doc_id", "text")
    val kept = Dedup.dropContained(docs, "text", "doc_id", 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("prefixJaccardJoin plan has no cartesian product") {
    val docs = sf("documents").filter(col("doc_id") % 11 === 0)
    // the vocabulary pin and the result pin: the plans that actually run
    val plans = checkpointPlans(Dedup.prefixJaccardJoin(docs, "text", "doc_id", 0.6))
      .map(_.toString)
    assert(plans.length == 2, plans.mkString("\n"))
    for (plan <- plans) {
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("simhashMd5Sigs through signaturePairs equals brute all-pairs Hamming") {
    // the 16-bit-quarter blocking is COMPLETE for maxHamming <= 3: the
    // md5-tier pairs must match an unblocked all-pairs comparison exactly
    val docs = sf("documents").filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text")
    val near = docs.select((col("doc_id") + 100000).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    val sigs = Dedup.simhashMd5Sigs(docs.unionByName(near), "text", "doc_id")
    val viaBlocks = Dedup.signaturePairs(sigs, maxHamming = 3)
      .select(col("id1"), col("id2"), col("hamming").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = sigs.select(col("id").as("id1"), col("sig").as("s1"))
    val b = sigs.select(col("id").as("id2"), col("sig").as("s2"))
    val brute = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("hamming") <= 3)
      .select("id1", "id2", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaBlocks == brute)
    // the ' zz' single-token edit keeps planted pairs within the gate
    val planted = docs.collect().map(_.getLong(0)).map(i => (i, i + 100000)).toSet
    val found = viaBlocks.map(t => (t._1, t._2))
    assert(planted.intersect(found).size >= planted.size / 2,
      s"planted recall too low: ${planted.intersect(found).size}/${planted.size}")
  }

  test("adaptiveSample: report is self-consistent; members slice matches") {
    val docs = sf("documents").withColumn("len",
      length(col("text")).cast("double"))
    val r = Sampling.adaptiveSample(docs, "doc_id", "len").head()
    val (total, pilotN, reqN, sampleN) =
      (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))
    assert(pilotN > 1 && pilotN < total)
    assert(reqN >= pilotN && reqN <= total)
    // hash-threshold realization lands near the budget (binomial spread)
    assert(math.abs(sampleN - reqN) <= math.max(5L, reqN / 4))
    // the exposed membership slice is exactly the sample the report saw
    val members = Sampling.sampleMembers(docs, "doc_id", reqN, total)
    assert(members.count() == sampleN)
    // tighter precision demands a bigger budget
    val tight = Sampling.adaptiveSample(docs, "doc_id", "len",
      relErr = 0.01).head()
    assert(tight.getLong(4) >= reqN)
    // a constant column needs nothing beyond the pilot
    val const = Sampling.adaptiveSample(
      docs.withColumn("c", lit(7.0)), "doc_id", "c").head()
    assert(const.getLong(4) == const.getLong(1))
  }

  test("new gauges tolerate null text and null values without inventing rows") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, null.asInstanceOf[String]), (3L, ""), (4L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    // null/empty text never reaches the pair joins
    val mh = Dedup.minhashPairsMd5(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.toSeq == Seq((1L, 4L))) // the identical pair only
    val sh = Dedup.signaturePairs(Dedup.simhashMd5Sigs(docs, "text", "doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((1L, 4L)) && sh.forall(p => p._1 != 2L && p._2 != 2L))
    // adaptive sampling: null values drop from counts/sums consistently
    val vals = (1L to 400L).map(i =>
      (i, if (i % 7 == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(i.toDouble))).toDF("id", "v")
    val rep = Sampling.adaptiveSample(vals, "id", "v", pilotN = 100).head()
    assert(rep.getLong(0) == 400L)            // total counts ROWS
    assert(rep.getLong(1) < rep.getLong(0))   // pilot n counts non-null VALUES
    assert(rep.getDouble(2) > 0.0)
  }

  test("pageRank survives deep iteration with one action per round") {
    // 20 rounds over a small cyclic graph: checkpoint churn must not leak
    // or diverge — mass stays conserved and the rank vector converges
    val edges = (1 to 30).flatMap(i =>
      Seq(s"n$i" -> s"n${i % 30 + 1}", s"n$i" -> s"n${(i * 7) % 30 + 1}"))
      .toDF("s", "d")
    val r = Graph.pageRank(edges, "s", "d", iters = 20)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.size == 30)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r.values.forall(v => v > 0.0 && v < 1.0))
  }

  test("round-9 gauges are partition-invariant (decimal sums, hash membership)") {
    // the operators claim partial-aggregation-order independence; a
    // repartition must not perturb a single emitted value
    val docs = sf("documents").withColumn("len",
      length(col("text")).cast("double"))
    val a1 = Sampling.adaptiveSample(docs.repartition(1), "doc_id", "len")
      .collect().toSeq
    val a13 = Sampling.adaptiveSample(docs.repartition(13), "doc_id", "len")
      .collect().toSeq
    assert(a1 == a13)
    val corpus = sf("documents").filter(col("doc_id") % 25 === 0)
      .select("doc_id", "text")
    val m1 = Dedup.minhashPairsMd5(corpus.repartition(1), "text", "doc_id")
      .orderBy("id1", "id2").collect().toSeq
    val m13 = Dedup.minhashPairsMd5(corpus.repartition(13), "text", "doc_id")
      .orderBy("id1", "id2").collect().toSeq
    assert(m1 == m13)
    val s1 = Dedup.signaturePairs(
        Dedup.simhashMd5Sigs(corpus.repartition(1), "text", "doc_id"))
      .orderBy("id1", "id2").collect().toSeq
    val s13 = Dedup.signaturePairs(
        Dedup.simhashMd5Sigs(corpus.repartition(13), "text", "doc_id"))
      .orderBy("id1", "id2").collect().toSeq
    assert(s1 == s13)
  }

  test("splitByCluster: dup clusters never straddle splits; loners match splitByHash") {
    val df = (1L to 200L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (50L, 150L)).toDF("id1", "id2")
    val w = Seq("train" -> 0.5, "test" -> 0.5)
    val out = Sampling.splitByCluster(df, "id", pairs, w)
    val m = out.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 200)
    assert(Set(m(1L), m(2L), m(3L)).size == 1) // one cluster, one split
    assert(m(50L) == m(150L))
    // rows in no cluster get exactly the id-hash split
    val plain = Sampling.splitByHash(df, "id", w)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val loners = (1L to 200L).toSet -- Set(1L, 2L, 3L, 50L, 150L)
    assert(loners.forall(i => m(i) == plain(i)))
  }

  test("knnGraphGemm: heavy exact-tie corpora keep the smallest ids") {
    // 30 byte-identical vectors: every pair ties at cosine 1.0, far more
    // ties than the pool (margin=0) holds -> eviction order decides ids
    val v = sf("embeddings").filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    // ONE partition, descending arrival: the pool overflows and must
    // evict its larger-id tied members to reproduce the brute result
    val dup = spark.createDataFrame(
      (0L until 30L).reverse.map(i => (i, v)).toDF("vec_id", "embedding").rdd,
      sf("embeddings").select("vec_id", "embedding").schema).coalesce(1)
    val brute = Similarity.knnGraphBrute(dup, "embedding", "vec_id", 5)
      .orderBy("qid", "id").collect().toSeq
    val gemm = Similarity.knnGraphGemm(dup, "embedding", "vec_id", 5,
      margin = 0, blockRows = 4).orderBy("qid", "id").collect().toSeq
    assert(gemm == brute)
  }

  test("knnGraphGemm and brute agree on zero-norm vectors: both exclude them") {
    // a zero vector has no defined cosine; before the shared contract the
    // brute window ranked its NaN cosine FIRST while gemm silently
    // dropped it — now both paths exclude it from corpus AND query sides
    val emb = sf("embeddings").limit(40)
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val zeroed = spark.createDataFrame(
      Seq((9999L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding").rdd,
      emb.select("vec_id", "embedding").schema)
    val df = emb.select("vec_id", "embedding").unionByName(zeroed)
    val brute = Similarity.knnGraphBrute(df, "embedding", "vec_id", 5)
      .orderBy("qid", "id").collect().toSeq
    val gemm = Similarity.knnGraphGemm(df, "embedding", "vec_id", 5)
      .orderBy("qid", "id").collect().toSeq
    assert(gemm == brute)
    assert(!brute.exists(r => r.getLong(0) == 9999L || r.getLong(1) == 9999L))
    assert(brute.nonEmpty && brute.forall(r => !r.getDouble(2).isNaN))
  }

  test("hyperplanesMd5 pins the engine-portable weight formula") {
    // the DuckDB oracle regenerates these planes from md5 — the first
    // weight is pinned so a silent formula drift breaks HERE, not as an
    // opaque recall-gauge hash mismatch in the driver
    val pl = Similarity.hyperplanesMd5(4, 2)
    assert(pl.length == 2 && pl(0).length == 4)
    assert(pl(0)(0) == 1895767151L.toDouble / 4294967296.0 * 2.0 - 1.0)
    assert(pl.flatten.forall(w => w >= -1.0 && w < 1.0))
    // deterministic: no hidden state between calls
    assert(Similarity.hyperplanesMd5(4, 2).flatten.toSeq == pl.flatten.toSeq)
  }

  test("kmeansFit centroids are the exact argmin targets of its assignments") {
    val emb = sf("embeddings").limit(200)
    val (asg, cents) = Cluster.kmeansFit(emb, "embedding", "vec_id", k = 4, iters = 1)
    assert(cents.length == 4)
    val rows = asg.join(emb.select("vec_id", "embedding"), "vec_id")
      .select("vec_id", "cluster", "embedding").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](2).map(_.toDouble).toArray
      val d2 = cents.map { c =>
        var acc = 0.0; var i = 0
        while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
        acc
      }
      // assigned cluster minimizes distance (ties to the lowest id)
      val best = d2.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      assert(r.getInt(1) == best, s"vec ${r.getLong(0)}")
    }
  }

  test("knnGraphIvfExact on deterministic cells: recall in (0,1], subset of corpus") {
    val emb = sf("embeddings").limit(300)
    val (asg, cents) = Cluster.kmeansFit(emb, "embedding", "vec_id", k = 4, iters = 1)
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .join(asg.select(col("vec_id"), col("cluster").as("__cell")), "vec_id")
    val q = emb.filter(col("vec_id") < 16)
    val exact = Similarity.knnGraphBrute(emb, "embedding", "vec_id", 5, queries = Some(q))
    val approx = Similarity.knnGraphIvfExact(assigned, cents, "embedding", "vec_id",
      5, nProbe = 2, queries = q)
    val rec = Similarity.recallReport(exact, approx).collect()
    assert(rec.length == 16)
    assert(rec.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
    // probing 2 of 4 cells must find SOMETHING overall
    assert(rec.map(_.getLong(1)).sum > 0)
  }

  test("knnGraphGemmChunked equals the unchunked graph; empty slices ok") {
    val emb = sf("embeddings").limit(150)
    val whole = Similarity.knnGraphGemm(emb, "embedding", "vec_id", 5)
      .orderBy("qid", "id").collect().toSeq
    val chunked = Similarity.knnGraphGemmChunked(emb, "embedding", "vec_id", 5,
      nChunks = 7).orderBy("qid", "id").collect().toSeq
    assert(chunked == whole)
    // more chunks than queries -> some hash slices are empty; still exact
    val tiny = sf("embeddings").limit(3)
    val t = Similarity.knnGraphGemmChunked(emb, "embedding", "vec_id", 5,
      nChunks = 8, queries = Some(tiny)).orderBy("qid", "id").collect().toSeq
    val tw = Similarity.knnGraphGemm(emb, "embedding", "vec_id", 5,
      queries = Some(tiny)).orderBy("qid", "id").collect().toSeq
    assert(t == tw && t.nonEmpty)
  }

  test("semanticContamination finds a planted probe match") {
    val emb = sf("embeddings")
    val probes = emb.filter(col("vec_id") === 7).withColumn("vec_id", lit(9999L))
    val out = Similarity.semanticContamination(emb, probes,
      "embedding", "vec_id", "vec_id", tau = 0.999999).collect()
    // the planted probe IS vector 7: cosine 1.0 within float fold error
    assert(out.exists(r => r.getLong(0) == 7L && r.getLong(1) == 9999L))
  }

  test("noveltyScore: fully-seen docs score 0, fully-novel score 1") {
    val ref = Seq((1L, "alpha beta gamma delta")).toDF("id", "text")
    val docs = Seq(
      (10L, "alpha beta gamma delta"),     // every trigram in ref
      (11L, "zeta eta theta iota"),        // none in ref
      (12L, "alpha beta gamma unseen")     // 1 of 2 trigrams in ref
    ).toDF("id", "text")
    val out = Dedup.noveltyScore(docs, ref, "text", "id", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(10L) == ((2L, 2L, 0.0)))
    assert(out(11L) == ((2L, 0L, 1.0)))
    assert(out(12L) == ((2L, 1L, 0.5)))
  }

  test("dedupByPairsBest keeps the highest-priority member, nulls lose") {
    val df = Seq((1L, Some(5L)), (2L, Some(9L)), (3L, Some(9L)), (4L, Some(7L)),
      (5L, None), (6L, Some(1L))).toDF("id", "quality")
    // cluster {1,2,3}: 2 wins the 9-tie over 3 by lower id; {5,6}: the
    // null-quality 5 loses to scored 6; 4 is untouched and passes through
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val out = Dedup.dedupByPairsBest(df, "id", pairs, "quality")
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(out == Seq(2L, 4L, 6L))
  }

  test("recallReport: identical, partial, and absent approx results") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 9L))
      .toDF("qid", "id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 99L)).toDF("qid", "id")
    val out = Similarity.recallReport(exact, approx).orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // q1 full overlap, q2 half, q3 absent from approx entirely
    assert(out.toSeq == Seq((1L, 2L, 2L, 1.0), (2L, 1L, 2L, 0.5), (3L, 0L, 1L, 0.0)))
  }

  test("exact dedup keeps lowest id and counts dupes") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exact(df, "text", "id").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val near = base + " extra"
    val other = "completely different words describing unrelated matters entirely elsewhere in space and time"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "text", "id",
      shingleSize = 3, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard is exact on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].collect()(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("oovRate scores token occurrences outside the top-K vocabulary") {
    val df = Seq(
      (1L, "a a a b"),  // all in top-2 vocab {a, b}
      (2L, "a b x y"),  // x, y out of vocab -> 0.5
      (3L, "a a b b")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.oovRate(df, "doc_id", "text", topK = 2)
      .as[(Long, Double)].collect().toMap
    assert(r == Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.0))
    // boundary tie: a=2, b=1, c=1 -> top-2 = {a, b} (tie breaks on token)
    val tie = Seq((1L, "a a b c")).toDF("doc_id", "text")
    val rt = TextAnalysis.oovRate(tie, "doc_id", "text", topK = 2)
      .as[(Long, Double)].collect().toMap
    assert(rt(1L) == 0.25)
  }

  test("contamination flags the leaking train doc, spares the clean one") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // leaks 2 trigrams to probe
      (2L, "zeta eta theta iota kappa"),        // clean
      (3L, "alpha beta zzz gamma delta")        // 0 shared trigrams (order differs)
    ).toDF("doc_id", "text")
    val probe = Seq((100L, "alpha beta gamma delta qqq")).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, probe, "text", "doc_id",
      n = 3, minOverlap = 2)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // doc 1 shares "alpha beta gamma" + "beta gamma delta"; docs 2/3 share < 2
    assert(hits == Seq((1L, 100L, 2L)))
    // minOverlap = 1 admits nothing new from doc 2, still nothing from doc 3
    val loose = Dedup.contamination(train, probe, "text", "doc_id",
      n = 3, minOverlap = 1)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(loose == Seq((1L, 100L, 2L)))
  }

  test("simhash: identical texts collide, near texts are close, far texts differ") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("id", "text")
    val sigs = df.select(col("id"), Dedup.simhash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("embeddingPairs finds planted scaled-copy vectors, skips orthogonal ones") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.map(_ * 1.0001f) // cosine ~ 1
    val ortho = Array.fill(64)(rnd.nextGaussian().toFloat)
    val df = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, ortho.toSeq))
      .toDF("id", "vec")
    val pairs = Dedup.embeddingPairs(df, "vec", "id", cosineThreshold = 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairs blocks by quarter and verifies hamming") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "id", maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("brute-force top-k: self is the nearest neighbor with cosine 1") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding").collect()(0).getSeq[Float](0)
    val top = Similarity.bruteTopK(emb, "embedding", "vec_id", q, 5).collect()
    assert(top(0).getAs[Long]("vec_id") == 7L)
    assert(math.abs(top(0).getAs[Double]("cosine") - 1.0) < 1e-9)
  }

  test("LSH top-k achieves recall against brute force") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding").collect()(0).getSeq[Float](0)
    val brute = Similarity.bruteTopK(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopK(emb, "embedding", "vec_id", q, 10,
      nBits = 16, maxHamming = 8).select("vec_id").as[Long].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
    assert(lsh.contains(7L))
  }

  test("persisted LSH index round-trips and matches the inline path") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding").collect()(0).getSeq[Float](0)
    val path = tempDir("lshidx") + "/idx"
    Similarity.lshWriteIndex(emb, "embedding", nBits = 16, dim = q.length, path)
    val fromIndex = Similarity.lshReadTopK(spark, path, "embedding", "vec_id",
      q, 10, nBits = 16, maxHamming = 8).select("vec_id").as[Long].collect().toSeq
    val inline = Similarity.lshTopK(emb, "embedding", "vec_id", q, 10,
      nBits = 16, maxHamming = 8).select("vec_id").as[Long].collect().toSeq
    assert(fromIndex == inline) // same hyperplane seed => identical result
  }

  test("persisted IVF index: centroids reload, probe prunes partitions") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding").collect()(0).getSeq[Float](0)
    val path = tempDir("ivfidx") + "/idx"
    val built = Similarity.ivfWriteIndex(emb, "embedding", "vec_id", nCells = 8, path)
    val loaded = Similarity.ivfReadCentroids(spark, path)
    assert(loaded.toSeq == built.toSeq) // centroid table survives the round-trip
    val probe = Similarity.ivfReadTopK(spark, path, loaded,
      "embedding", "vec_id", q, 5, nProbe = 4)
    // the __cell isin filter must prune at the FILE level, not post-scan
    assert(probe.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      probe.queryExecution.executedPlan.toString.take(2000))
    assert(probe.select("vec_id").as[Long].collect().contains(7L))
  }

  test("kNN graph: brute is exact; sketch gate keeps identical planted copies") {
    val emb = sf("embeddings")
    // plant an exact copy of vector 7 under a new id: cosine 1, sketch
    // Hamming 0 — the gate can never drop it
    val dup = emb.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(1007L))
    val corpus = emb.unionByName(dup, allowMissingColumns = true)

    val brute = Similarity.knnGraphBrute(corpus, "embedding", "vec_id", 3)
    val b7 = brute.filter(col("qid") === 7).orderBy(col("cosine").desc)
      .select("id").as[Long].collect()
    assert(b7.head == 1007L) // the exact copy is the nearest neighbor
    // self never appears; per-query cardinality bounded by k
    assert(brute.filter(col("qid") === col("id")).count() == 0)
    assert(brute.groupBy("qid").count().agg(max("count")).as[Long].head() <= 3)

    val path = tempDir("knnidx") + "/idx"
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    Similarity.lshWriteIndex(corpus, "embedding", nBits = 64, dim = dim, path)
    val gated = Similarity.knnGraphSketch(spark.read.parquet(path),
      "embedding", "vec_id", 3, maxHamming = 28)
    val g7 = gated.filter(col("qid") === 7).orderBy(col("cosine").desc)
      .select("id").as[Long].collect()
    assert(g7.nonEmpty && g7.head == 1007L)
    assert(gated.filter(col("qid") === col("id")).count() == 0)
  }

  test("256-bit sketch gate: recall >= 0.8 on true top-10 (the production params)") {
    // pins the LshBits/LshMaxHamming pair SparkEntry ships: at 256 bits a
    // 112 gate measured recall ~0.95 at sf0.1 and ~0.86 at this test SF
    // (smaller corpus => farther top-10); 0.8 leaves seed margin
    val emb = sf("embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val path = tempDir("recallidx") + "/idx"
    Similarity.lshWriteIndex(emb, "embedding", nBits = SparkEntry.LshBits, dim = dim, path)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.knnGraphBrute(emb, "embedding", "vec_id", 10))
    val gated = pairs(Similarity.knnGraphSketch(spark.read.parquet(path),
      "embedding", "vec_id", 10, maxHamming = SparkEntry.LshMaxHamming))
    val recall = (brute intersect gated).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall below 0.8")
    // the 64-query batch slice (q_embed_lsh_batch) rides the same gate:
    // its recall is the same measure restricted to qid < 64
    val bruteB = brute.filter(_._1 < 64)
    val gatedB = gated.filter(_._1 < 64)
    val recallB = (bruteB intersect gatedB).size.toDouble / bruteB.size
    assert(recallB >= 0.8, s"batch recall $recallB below 0.8")
  }

  test("IVF index assigns cells and probes find the query vector") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding").collect()(0).getSeq[Float](0)
    val (assigned, centroids) = Similarity.ivfIndex(emb, "embedding", "vec_id", nCells = 8)
    assert(assigned.select("__cell").distinct().count() <= 8)
    val top = Similarity.ivfTopK(assigned, centroids, "embedding", "vec_id", q, 5, nProbe = 4)
      .select("vec_id").as[Long].collect()
    assert(top.contains(7L))
  }

  test("batch kNN over the IVF index: agrees with per-query probes, recall vs brute") {
    val emb = sf("embeddings")
    val path = tempDir("ivfbatch") + "/idx"
    val centroids = Similarity.ivfWriteIndex(emb, "embedding", "vec_id", nCells = 8, path)
    val idx = spark.read.parquet(path)
    val batch = Similarity.knnGraphIvf(idx, centroids, "embedding", "vec_id",
      k = 10, nProbe = 4, queries = idx.filter(col("vec_id") < 32))
    // self never appears; per-query cardinality bounded by k
    assert(batch.filter(col("qid") === col("id")).count() == 0)
    assert(batch.groupBy("qid").count().agg(max("count")).as[Long].head() <= 10)
    // the batch join path returns EXACTLY what 32 separate ivfTopK probes
    // return (same cells probed, same scoring) modulo the self-exclusion
    // the graph form adds
    val q7 = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val single = Similarity.ivfTopK(idx, centroids, "embedding", "vec_id", q7, 11, nProbe = 4)
      .filter(col("vec_id") =!= 7).limit(10)
      .select(col("vec_id")).as[Long].collect().toSet
    val batched = batch.filter(col("qid") === 7).select("id").as[Long].collect().toSet
    assert(batched == single, s"batch $batched vs single $single")
    // probing half the cells keeps usable recall on true top-10
    val brute = Similarity.knnGraphBrute(emb, "embedding", "vec_id", 10,
      queries = Some(emb.filter(col("vec_id") < 32)))
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val got = batch.select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF batch recall $recall below 0.5")
    // the past-broadcast-range shuffle form is the SAME operator: results
    // identical, join co-partitioned on __cell instead of broadcast
    val shuffled = Similarity.knnGraphIvf(idx, centroids, "embedding", "vec_id",
      k = 10, nProbe = 4, queries = idx.filter(col("vec_id") < 32),
      broadcastQueries = false)
    assert(shuffled.select("qid", "id").as[(Long, Long)].collect().toSet == got)
  }

  test("language ID picks the language with densest stopwords") {
    val df = Seq(
      (1L, "the cat sat on the mat and it was the best of all"),
      (2L, "der hund und die katze sind nicht mit dem mann zu hause"),
      (3L, "xyzzy qwerty plugh")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("tokens: surrounding whitespace mints no empty tokens") {
    import graft.pipeline.{TextAnalysis => TA}
    val df = Seq((1L, "  hello world  ")).toDF("id", "text")
    val r = df.select(TA.tokenCountWs(col("text")).as("n"),
      TA.meanWordLength(col("text")).as("m")).collect()(0)
    assert(r.getInt(0) == 2, s"got ${r.getInt(0)} tokens")
    assert(r.getDouble(1) == 5.0)
    // SQL trim strips spaces ONLY: a trailing newline stays a separator in
    // BOTH the declarative path and the native stopword kernel (they must
    // tokenize identically or ratios use a different denominator)
    val nl = Seq((1L, "the cat\n")).toDF("id", "text")
    val n2 = nl.select(TA.tokenCountWs(col("text")).as("n"),
      TA.stopwordRatio(col("text"), "en").as("sw")).collect()(0)
    assert(n2.getInt(0) == 3) // "the", "cat", "" — newline not trimmed
    assert(n2.getDouble(1) == 1.0 / 3.0)
  }

  test("langId validates its language list and works with one language") {
    import graft.pipeline.{TextAnalysis => TA}
    val df = Seq((1L, "the cat and the hat is it")).toDF("id", "text")
    assertThrows[IllegalArgumentException](
      df.select(TA.langId(col("text"), Seq("en", "pt"))).collect())
    assertThrows[IllegalArgumentException](
      df.select(TA.langId(col("text"), Seq.empty)).collect())
    assert(df.select(TA.langId(col("text"), Seq("en"))).as[String].head() == "en")
  }

  test("resizeMeta hits the limiting dimension exactly; sampleFrames rejects n=0") {
    import graft.pipeline.Multimodal
    val media = Seq((1L, Array[Byte](1), "img", 1920, 1080, 0L))
      .toDF("media_id", "data", "fmt", "w", "h", "dur")
      .select(col("media_id"), col("data"),
        struct(col("fmt").as("format"), col("w").as("width"),
          col("h").as("height"), col("dur").as("duration_ms")).as("meta"))
    val r = Multimodal.resizeMeta(media, 640, 480)
      .select("meta.width", "meta.height").collect()(0)
    assert(r.getInt(0) == 640 && r.getInt(1) == 360) // not 639x359
    assertThrows[IllegalArgumentException](Multimodal.sampleFrames(media, 0))
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq("hello world, it's 42!").toDF("text")
    val r = df.select(
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe")).collect()(0)
    assert(r.getAs[Int]("ws") == 4)
    // hello | world | , | it | ' | s | 42 | !
    assert(r.getAs[Int]("bpe") == 8)
  }

  test("quality score orders clean text above punctuation soup") {
    val df = Seq(
      ("clean", "the quick brown fox jumps over the lazy dog and keeps running through the field"),
      ("soup", "!!! ??? ,,, ;;; ### !!! ??? ,,,")).toDF("k", "text")
    val m = df.select(col("k"), TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(String, Double)].collect().toMap
    assert(m("clean") > m("soup"))
  }

  test("fingerprints are whitespace-normalization invariant") {
    val df = Seq(("a", "Hello   World"), ("b", "hello world"), ("c", "other")).toDF("k", "text")
    val fps = df.select(col("k"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
      .as[(String, String)].collect().toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("multimodal: fabricate schema, extract features by sniffed format, sample frames") {
    val docs = sf("documents").limit(20)
    val media = Multimodal.fabricate(docs, "doc_id", "text", "image/fake")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "data", "meta"))
    // unrecognized payloads (text bytes) yield NULL features — never a
    // fabricated vector (the former stub is gone)
    val fake = Multimodal.extractFeatures(media, dim = 16).select("features").collect()
    assert(fake.forall(_.isNullAt(0)))
    // real payloads dispatch by magic: PNG -> imageio grid, MPEG-1 ->
    // inter-frame decode; both deterministic
    val imgs = Multimodal.fabricateImages(docs, "doc_id")
    val ifeat = Multimodal.extractFeatures(imgs, dim = 16)
      .select("media_id", "features").collect()
    assert(ifeat.forall(r => !r.isNullAt(1) &&
      r.getAs[scala.collection.Seq[Float]](1).length == 16))
    val vids = Multimodal.fabricateMpegVideos(docs.limit(5), "doc_id")
    val vfeat = Multimodal.extractFeatures(vids, dim = 16)
      .select("media_id", "features").collect()
    assert(vfeat.length == 5 && vfeat.forall(r => !r.isNullAt(1) &&
      r.getAs[scala.collection.Seq[Float]](1).length == 16))
    val vfeat2 = Multimodal.extractFeatures(vids, dim = 16)
      .select("media_id", "features").collect()
    assert(vfeat.map(_.toString).sorted.sameElements(vfeat2.map(_.toString).sorted))
    val frames = Multimodal.sampleFrames(media, 4)
    assert(frames.count() == 80) // 20 media x 4 frames
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx", "ts_ms", "frame_data"))
  }

  test("multimodal: MPEG-1 clips — header meta matches the id law, features pool MC frames") {
    val docs = sf("documents").limit(12)
    val vids = Multimodal.fabricateMpegVideos(docs, "doc_id")
    val meta = Multimodal.decodeMpegVideos(vids)
      .select("media_id", "meta.format", "meta.width", "meta.height", "meta.duration_ms")
      .collect()
    assert(meta.length == 12)
    meta.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == "video/mpeg")
      assert(r.getInt(2) == 16 * (id % 3 + 1).toInt, s"width of $id")
      assert(r.getInt(3) == 16 * (id % 2 + 1).toInt, s"height of $id")
      assert(r.getLong(4) == (id % 5 + 2) * 40L, s"duration of $id")
    }
    val feats = Multimodal.mpegGridFeatures(vids, n = 3, gw = 4, gh = 4)
      .select("media_id", "features").collect()
    assert(feats.forall(r => !r.isNullAt(1) &&
      r.getAs[scala.collection.Seq[Float]](1).length == 16))
    // non-MPEG payload -> null features, not a task failure
    val junk = Multimodal.fabricate(docs.limit(1), "doc_id", "text", "junk")
    assert(Multimodal.mpegGridFeatures(junk).select("features").collect()(0).isNullAt(0))
    // TRUNCATED payload with a valid sequence-header start code: the
    // bit reader runs off the buffer (not an Mpeg1Error) — still null
    val trunc = Seq((1L, Array[Byte](0, 0, 1, 0xB3.toByte, 1, 2, 3, 4)))
      .toDF("media_id", "data")
    assert(Multimodal.mpegGridFeatures(trunc).select("features").collect()(0).isNullAt(0))
    assert(Multimodal.extractFeatures(trunc, dim = 16)
      .select("features").collect()(0).isNullAt(0))
  }

  test("multimodal: REAL PNG codec — decode, resize, grid features (javax.imageio)") {
    val docs = sf("documents").limit(25)
    val imgs = Multimodal.fabricateImages(docs, "doc_id")
    // decode returns what the actual bytes contain
    val dec = Multimodal.decodeImages(imgs)
      .select("media_id", "meta.format", "meta.width", "meta.height")
      .as[(Long, String, Int, Int)].collect()
    assert(dec.nonEmpty)
    for ((id, fmt, w, h) <- dec) {
      assert(fmt == "image/png")
      assert(w == (id % 31 + 1).toInt && h == (id % 17 + 1).toInt, s"id=$id $w x $h")
    }
    // resize bounds both dimensions, preserves aspect, never upscales —
    // verified by DECODING the rewritten payload, not trusting metadata
    val res = Multimodal.decodeImages(Multimodal.resizeImages(imgs, 8, 8))
      .select("media_id", "meta.width", "meta.height")
      .as[(Long, Int, Int)].collect()
    for ((id, w, h) <- res) {
      val (ow, oh) = ((id % 31 + 1).toInt, (id % 17 + 1).toInt)
      assert(w <= 8 && h <= 8, s"id=$id resized $w x $h")
      assert(w <= ow && h <= oh, s"id=$id upscaled")
      val scale = math.min(1.0, math.min(8.0 / ow, 8.0 / oh))
      assert(w == math.max(1, math.round(ow * scale).toInt), s"id=$id width")
      assert(h == math.max(1, math.round(oh * scale).toInt), s"id=$id height")
    }
    // grid features: fixed width, [0,1], deterministic
    val f = Multimodal.imageGridFeatures(imgs, 4, 4)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(f.values.forall(v => v.length == 16 && v.forall(x => x >= 0f && x <= 1f)))
    val f2 = Multimodal.imageGridFeatures(imgs, 4, 4)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(f == f2)
    // transcode png -> bmp: format rewritten, dimensions preserved, and
    // (both formats lossless) the pixel grid survives bit-exact
    val bmp = Multimodal.transcodeImages(imgs, "bmp")
    val bdec = Multimodal.decodeImages(bmp)
      .select("media_id", "meta.format", "meta.width", "meta.height")
      .as[(Long, String, Int, Int)].collect()
    for ((id, fmt, w, h) <- bdec) {
      assert(fmt == "image/bmp", s"id=$id")
      assert(w == (id % 31 + 1).toInt && h == (id % 17 + 1).toInt, s"id=$id")
    }
    val gPng = Multimodal.imageGridFeatures(imgs, 4, 4)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    val gBmp = Multimodal.imageGridFeatures(bmp, 4, 4)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(gPng == gBmp)
    // a truncated payload decodes to null meta, not a task failure
    val broken = imgs.withColumn("data",
      when(col("media_id") === dec.head._1, expr("substring(data, 1, 4)"))
        .otherwise(col("data")))
    val nulls = Multimodal.decodeImages(broken)
      .filter(col("meta").isNull).count()
    assert(nulls == 1)
  }

  test("multimodal: REAL WAV codec — decode, RMS features (javax.sound)") {
    val docs = sf("documents").limit(25)
    val wavs = Multimodal.fabricateAudio(docs, "doc_id")
    // header decode returns what the actual bytes contain
    val dec = Multimodal.decodeAudio(wavs)
      .select("media_id", "meta.format", "meta.width", "meta.height",
        "meta.duration_ms")
      .as[(Long, String, Int, Int, Long)].collect()
    assert(dec.nonEmpty)
    for ((id, fmt, rate, ch, durMs) <- dec) {
      assert(fmt == "audio/wave" && rate == 8000 && ch == 1, s"id=$id")
      assert(durMs == id % 997 + 125, s"id=$id duration $durMs")
    }
    // RMS features: a full-scale square wave has RMS 1.0, silence 0.0 —
    // build one clip that alternates per window and check the envelope
    val sr = 8000
    val nFrames = 8 * 100
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val win = i / 100
      val v = if (win % 2 == 0) 0 else { if (i % 2 == 0) 32767 else -32767 }
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmtSpec = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmtSpec, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    import spark.implicits._
    val one = Seq((1L, bos.toByteArray, null: String)).toDF("media_id", "data", "pad")
      .select(col("media_id"), col("data"),
        lit(null).cast(Multimodal.mediaMetaType).as("meta"))
    val rms = Multimodal.audioRmsFeatures(one, nWindows = 8)
      .select("features").as[Seq[Float]].head()
    assert(rms.length == 8)
    for (w <- 0 until 8) {
      if (w % 2 == 0) assert(rms(w) < 0.01f, s"window $w should be silent")
      else assert(rms(w) > 0.99f, s"window $w should be full-scale")
    }
    // determinism + envelope shape across the fabricated corpus
    val f = Multimodal.audioRmsFeatures(wavs, 4)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(f.values.forall(v => v.length == 4 && v.forall(x => x >= 0f && x <= 1f)))
    // resample: rate halves, frame count halves exactly (fixtures are
    // even-length), duration survives to the millisecond
    val rdec = Multimodal.decodeAudio(Multimodal.resampleAudio(wavs, 4000))
      .select("media_id", "meta.width", "meta.duration_ms")
      .as[(Long, Int, Long)].collect()
    assert(rdec.nonEmpty)
    for ((id, rate, durMs) <- rdec) {
      assert(rate == 4000, s"id=$id rate $rate")
      assert(durMs == id % 997 + 125, s"id=$id duration $durMs")
    }
    // the loudness envelope survives resampling: DC blocks (constant
    // amplitude), which linear interpolation reproduces exactly
    val dcPcm = new Array[Byte](8 * 100 * 2)
    for (i <- 0 until 8 * 100) {
      val v = if ((i / 100) % 2 == 0) 0 else 20000
      dcPcm(2 * i) = (v & 0xFF).toByte
      dcPcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val dcAis = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(dcPcm), fmtSpec, (8 * 100).toLong)
    val dcBos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      dcAis, javax.sound.sampled.AudioFileFormat.Type.WAVE, dcBos)
    val dcDf = Seq((1L, dcBos.toByteArray)).toDF("media_id", "data")
      .select(col("media_id"), col("data"),
        lit(null).cast(Multimodal.mediaMetaType).as("meta"))
    val dcRms = Multimodal.audioRmsFeatures(
      Multimodal.resampleAudio(dcDf, 4000), nWindows = 8)
      .select("features").as[Seq[Float]].head()
    for (w <- 0 until 8) {
      val want = if (w % 2 == 0) 0.0f else 20000f / 32768f
      assert(math.abs(dcRms(w) - want) < 0.02f, s"window $w: ${dcRms(w)} vs $want")
    }
    // a truncated payload decodes to null meta, not a task failure
    val broken = wavs.withColumn("data",
      when(col("media_id") === dec.head._1, expr("substring(data, 1, 4)"))
        .otherwise(col("data")))
    val nulls = Multimodal.decodeAudio(broken)
      .filter(col("meta").isNull).count()
    assert(nulls == 1)
  }

  test("multimodal: REAL AVI container — header parse, frame decode (RIFF)") {
    val docs = sf("documents").limit(25)
    val vids = Multimodal.fabricateVideos(docs, "doc_id")
    // spec-level byte pins: RIFF magic, AVI form type, little-endian size
    val first = vids.select("media_id", "data").as[(Long, Array[Byte])].head()
    val (fid, bytes) = first
    assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "AVI ")
    val riffSize = (bytes(4) & 0xFFL) | ((bytes(5) & 0xFFL) << 8) |
      ((bytes(6) & 0xFFL) << 16) | ((bytes(7) & 0xFFL) << 24)
    assert(riffSize == bytes.length - 8, "RIFF size field covers the body")
    // header decode returns what the actual container says
    val dec = Multimodal.decodeVideos(vids)
      .select("media_id", "meta.format", "meta.width", "meta.height",
        "meta.duration_ms")
      .as[(Long, String, Int, Int, Long)].collect()
    assert(dec.nonEmpty)
    for ((id, fmt, w, h, durMs) <- dec) {
      assert(fmt == "video/avi", s"id=$id")
      assert(w == (id % 31 + 1).toInt && h == (id % 17 + 1).toInt, s"id=$id $w x $h")
      assert(durMs == (id % 7 + 2) * 250, s"id=$id duration $durMs")
    }
    // frame extraction decodes real JPEGs: dimensions from the raster
    val fr = Multimodal.sampleVideoFrames(vids, 2)
      .select("media_id", "frame_idx", "ts_ms", "f_width", "f_height")
      .as[(Long, Long, Long, Int, Int)].collect()
    assert(fr.length == dec.length * 2) // every clip has >= 2 frames
    for ((id, fi, ts, fw, fh) <- fr) {
      val total = id % 7 + 2
      assert(fi == 0 || fi == total / 2, s"id=$id frame $fi")
      assert(ts == fi * 250, s"id=$id ts $ts")
      assert(fw == (id % 31 + 1).toInt && fh == (id % 17 + 1).toInt, s"id=$id frame dims")
    }
    // a corrupted container parses to null meta, not a task failure
    val broken = vids.withColumn("data",
      when(col("media_id") === fid, expr("substring(data, 1, 6)"))
        .otherwise(col("data")))
    assert(Multimodal.decodeVideos(broken).filter(col("meta").isNull).count() == 1)
    // clip embeddings: fixed width, [0,1], deterministic, and directly
    // consumable by the similarity operators (end of the multimodal story)
    val emb = Multimodal.videoGridFeatures(vids, n = 2, gw = 4, gh = 4)
      .select("media_id", "features")
    val ev = emb.as[(Long, Seq[Float])].collect().toMap
    assert(ev.values.forall(v => v.length == 16 && v.forall(x => x >= 0f && x <= 1f)))
    val ev2 = Multimodal.videoGridFeatures(vids, n = 2, gw = 4, gh = 4)
      .select("media_id", "features").as[(Long, Seq[Float])].collect().toMap
    assert(ev == ev2)
    val knn = Similarity.knnGraphBrute(emb, "features", "media_id", 3).collect()
    assert(knn.length == ev.size * 3)
  }

  test("multimodal: metadata-only plan does not read the payload column") {
    val docs = sf("documents").limit(5)
    val media = Multimodal.fabricate(docs, "doc_id", "text", "image/fake")
    val resized = Multimodal.resizeMeta(media, 640, 480).select("media_id", "meta")
    val plan = resized.queryExecution.optimizedPlan.toString
    assert(resized.count() == 5)
    assert(!plan.contains("frame_data"))
  }

  // ===== duplicate-cluster resolution (connected components) =====

  /** Driver-side union-find oracle; always hangs the larger root under the
    * smaller, so every find() returns the component minimum. */
  private def ufClusters(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connected components equal a union-find oracle on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val edges = Seq.fill(5 + rnd.nextInt(30))(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).filter(e => e._1 != e._2)
      val want = ufClusters(edges)
      val rows = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .as[(Long, Long)].collect()
      // exactly ONE row per node — toMap alone would mask duplicate or
      // conflicting labels
      assert(rows.length == want.size, s"trial $trial row count")
      assert(rows.toMap == want, s"trial $trial edges=$edges")
    }
  }

  test("connected components: a 12-node chain collapses to one cluster") {
    // chains force multi-round convergence (the hardest shape for
    // star-contraction); 12 nodes must finish well inside maxIter
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("id1", "id2")
    val rows = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(rows.length == 12)
    assert(rows.toMap == (0L to 11L).map(_ -> 0L).toMap)
  }

  test("connected components use the RELIABLE checkpoint when a dir is configured") {
    // cluster deployments set a checkpoint dir; every pin (the per-round
    // lineage cuts included) must then survive executor loss
    // (localCheckpoint blocks would not). Isolated session; the checkpoint
    // dir is SparkContext-global state, so it is unset again at the end.
    val old = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val sc = old.sparkContext
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      val ckpt = java.nio.file.Paths.get(tempDir("ccckpt"))
      sc.setCheckpointDir(ckpt.toString)
      // the reliable path actually writes checkpoint data: one rdd-<id>
      // dir per checkpointed RDD
      def written: Long = {
        val walk = java.nio.file.Files.walk(ckpt)
        try walk.filter(_.getFileName.toString.startsWith("rdd-")).count()
        finally walk.close()
      }
      import s2.implicits._
      val edges = (0L until 7L).map(i => (i, i + 1)).toDF("id1", "id2")
      val docs = Seq(1L -> "a b c d e", 2L -> "a b c d f", 3L -> "x y z")
        .toDF("doc_id", "text")
      for ((name, run) <- Seq[(String, () => Unit)](
          "connectedComponents" -> { () =>
            val rows = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
            assert(rows.toMap == (0L to 7L).map(_ -> 0L).toMap)
          },
          "pageRank" -> { () =>
            val pr = Graph.pageRank(edges, "id1", "id2").collect()
            assert(pr.length == 8)
            assert(math.abs(pr.map(_.getDouble(1)).sum - 1.0) < 1e-9)
          },
          "prefixJaccardJoin" -> { () =>
            val pairs = Dedup.prefixJaccardJoin(docs, "text", "doc_id", 0.6)
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            assert(pairs.toSeq == Seq((1L, 2L)))
          })) {
        val before = written
        run()
        assert(written > before, s"$name wrote no checkpoint data under $ckpt")
      }
    } finally {
      sc.getClass.getMethod("checkpointDir_$eq", classOf[Option[_]]).invoke(sc, None)
      org.apache.spark.sql.SparkSession.setDefaultSession(old)
      org.apache.spark.sql.SparkSession.setActiveSession(old)
    }
  }

  test("connected components on string ids; unsupported types fail loudly") {
    val edges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("id1", "id2")
    val rows = Dedup.connectedComponents(edges).as[(String, String)].collect()
    assert(rows.length == 5)
    assert(rows.toMap == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    val bad = Seq((1.5, 2.5)).toDF("id1", "id2")
    val err = intercept[IllegalArgumentException](Dedup.connectedComponents(bad))
    assert(err.getMessage.contains("integral or string"))
  }

  test("dedupByPairs keeps cluster minima and passes untouched rows through") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z")).toDF("id", "v")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2") // transitive: {1,2,3}
    val kept = Dedup.dedupByPairs(df, "id", pairs).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(kept == Seq((1L, "a"), (4L, "d"), (9L, "z")))
  }

  // ===== repetition signals =====

  test("tokenStats: golden values and agreement with a scala recount") {
    val ta = TextAnalysis
    def recount(s: String): Seq[Long] = {
      val l = s.toLowerCase
      val toks = l.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ')
        .reverse.split("\\s+", -1)
      val bis = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val tf = toks.groupBy(identity).map(_._2.length)
      val bf = bis.groupBy(identity).map(_._2.length)
      Seq(toks.length, tf.size, tf.max, math.max(toks.length - 1, 0),
        bf.size, if (bf.isEmpty) 0 else bf.max).map(_.toLong)
    }
    val inputs = Seq("a b a b a", "one", "", "  padded \t with\ttabs  ", "x x x x", "A a A")
    val got = inputs.toDF("text")
      .select(ta.tokenStats(col("text"))).as[Seq[Long]].collect()
    inputs.zip(got).foreach { case (s, g) => assert(g == recount(s), s"input '$s'") }
    // golden: "a b a b a" -> 5 tokens, 2 distinct, 'a' x3; 4 bigrams, 2 distinct
    assert(got(0) == Seq(5L, 2L, 3L, 4L, 2L, 2L))
    val ratios = Seq("a b a b a").toDF("text").select(
      ta.dupTokenRatio(col("text")), ta.topTokenFraction(col("text")),
      ta.dupBigramRatio(col("text"))).as[(Double, Double, Double)].collect()(0)
    assert(ratios == ((0.6, 0.6, 0.5)))
  }

  test("single-token text has no bigrams and zero bigram ratio") {
    val r = Seq("one").toDF("text")
      .select(TextAnalysis.dupBigramRatio(col("text"))).as[Double].collect()(0)
    assert(r == 0.0)
  }

  test("duplicateLineFraction counts repeated and blank lines") {
    val r = Seq("l1\nl2\nl1\n\n").toDF("text")
      .select(TextAnalysis.duplicateLineFraction(col("text"))).as[Double].collect()(0)
    // lines: l1, l2, l1, "", "" -> 5 total, 3 distinct
    assert(r == 2.0 / 5.0)
  }

  // ===== deterministic sampling / splits =====

  test("splitByHash: stable assignment, roughly proportional, every row labeled") {
    val df = spark.range(2000).toDF("id")
    val s1 = Sampling.splitByHash(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val s2 = Sampling.splitByHash(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = s1.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000)
    assert(counts("train") > 1500 && counts("train") < 1700, counts.toString)
    assert(counts("val") > 120 && counts("val") < 280, counts.toString)
    // determinism: identical assignment across invocations
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
  }

  test("stratifiedSample keeps per-stratum hash fractions, drops unlisted strata") {
    val df = Seq.tabulate(900)(i => (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("id", "g")
    val kept = Sampling.stratifiedSample(df, "id", "g", Map("a" -> 1.0, "b" -> 0.5))
    val counts = kept.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts("a") == 300)
    assert(counts("b") > 100 && counts("b") < 200, counts.toString)
    assert(!counts.contains("c"))
    // subset property: sampling again with a smaller fraction nests
    val kept2 = Sampling.stratifiedSample(df, "id", "g", Map("b" -> 0.25))
    assert(kept2.join(kept, Seq("id"), "left_anti").isEmpty)
  }

  test("splitLabel validates weights") {
    intercept[IllegalArgumentException](Sampling.splitLabel(col("x"), Seq()))
    intercept[IllegalArgumentException](Sampling.splitLabel(col("x"), Seq("a" -> -1.0)))
  }

  test("null ids get a null split label, never a silent last-split assignment") {
    val df = Seq(Some(1L), Some(2L), None).toDF("id")
    val labels = Sampling.splitByHash(df, "id", Seq("train" -> 0.9, "test" -> 0.1))
      .select("split").as[Option[String]].collect()
    assert(labels.count(_.isEmpty) == 1)
    assert(labels.flatten.forall(Set("train", "test")))
  }

  test("connected components accept scale-0 decimal ids (JDBC NUMBER keys)") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
      .select(col("id1").cast("decimal(18,0)").as("id1"),
        col("id2").cast("decimal(18,0)").as("id2"))
    val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("removeBoilerplateLines rejects null ids loudly") {
    val df = Seq((Some(1L), "a\nb"), (None, "c")).toDF("id", "text")
    val e = intercept[Exception](
      TextAnalysis.removeBoilerplateLines(df, "id", "text").collect())
    assert(e.getMessage != null)
  }

  // ===== boilerplate removal =====

  test("removeBoilerplateLines drops corpus-frequent lines, keeps order, empties covered docs") {
    val df = Seq(
      (1L, "COOKIE BANNER\nunique one\nFOOTER"),
      (2L, "COOKIE BANNER\nunique two\nFOOTER"),
      (3L, "COOKIE BANNER\nunique three"),
      (4L, "COOKIE BANNER\nFOOTER")).toDF("id", "text")
    val out = TextAnalysis.removeBoilerplateLines(df, "id", "text", minDocs = 3)
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    // COOKIE BANNER in 4 docs, FOOTER in 3 -> both boilerplate
    assert(out == Map(1L -> "unique one", 2L -> "unique two",
      3L -> "unique three", 4L -> ""))
  }

  test("removeBoilerplateLines: duplicate lines within ONE doc are not boilerplate") {
    val df = Seq(
      (1L, "same\nsame\nsame"),
      (2L, "other\nlines")).toDF("id", "text")
    val out = TextAnalysis.removeBoilerplateLines(df, "id", "text", minDocs = 2)
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    // 'same' occurs 3x but only in one DISTINCT doc -> kept, order preserved
    assert(out == Map(1L -> "same\nsame\nsame", 2L -> "other\nlines"))
  }

  test("removeBoilerplateLinesByFrac matches the absolute threshold and clamps tiny corpora") {
    val df = Seq(
      (1L, "BANNER\none"), (2L, "BANNER\ntwo"),
      (3L, "BANNER\nthree"), (4L, "solo")).toDF("id", "text")
    // frac 0.7 of 4 docs -> ceil(2.8) = 3 distinct docs, same as minDocs=3
    val byFrac = TextAnalysis.removeBoilerplateLinesByFrac(df, "id", "text", 0.7)
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    val byAbs = TextAnalysis.removeBoilerplateLines(df, "id", "text", minDocs = 3)
      .select("id", "clean_text").as[(Long, String)].collect().toMap
    assert(byFrac == byAbs)
    assert(byFrac(1L) == "one")
    // one-doc corpus: ceil(frac*1) = 1 would declare every line shared by
    // the single doc boilerplate — the >=2 clamp must keep the text
    val solo = Seq((1L, "a\nb")).toDF("id", "text")
    val kept = TextAnalysis.removeBoilerplateLinesByFrac(solo, "id", "text", 0.9)
      .select("clean_text").as[String].collect()
    assert(kept.toSeq == Seq("a\nb"))
    intercept[IllegalArgumentException](
      TextAnalysis.removeBoilerplateLinesByFrac(df, "id", "text", 0.0))
  }

  // ===== PII =====

  test("pii counts and typed redaction") {
    val df = Seq("mail bob.smith+x@corp.example.org and 192.168.0.1 or +31612345678 end",
      "clean text with no pii at all").toDF("t")
    val rows = df.select(TextAnalysis.piiEmailCount(col("t")),
      TextAnalysis.piiIpv4Count(col("t")), TextAnalysis.piiPhoneCount(col("t")),
      TextAnalysis.redactPii(col("t"))).collect()
    assert(rows(0).getLong(0) == 1 && rows(0).getLong(1) == 1 && rows(0).getLong(2) == 1)
    assert(rows(0).getString(3) == "mail <EMAIL> and <IP> or <PHONE> end")
    assert(rows(1).getLong(0) == 0 && rows(1).getLong(1) == 0 && rows(1).getLong(2) == 0)
    assert(rows(1).getString(3) == "clean text with no pii at all")
  }

  test("sequencer cardinality and enumeration (WarpCoreTests.swift:624-668)") {
    import graft.sources.Sequencer
    assert(Sequencer.cardinality("[A-Z]{2}") == 676)
    assert(Sequencer.cardinality("(foo|bar)[0-9]") == 20)
    val vals = Sequencer.dataset(spark, "[ab]{2}", "v").as[String].collect().toSet
    assert(vals == Set("aa", "ab", "ba", "bb"))
    val r = Sequencer.range(spark, 5, 8, "n").as[Long].collect().toSeq
    assert(r == Seq(5L, 6L, 7L))
  }

  test("spans chunks words into fixed windows with a short tail") {
    val df = Seq(("a b c d e", 2), ("", 2)).toDF("text", "ignored")
    val out = df.select(Dedup.spans(col("text"), 2)).as[Seq[String]].collect()
    assert(out(0) == Seq("a b", "c d", "e"))
    assert(out(1) == Seq.empty)
  }

  test("dedupSpans keeps only the globally first occurrence of each span") {
    val df = Seq(
      (1L, "a b c d"),       // spans: "a b", "c d" — both first
      (2L, "c d e f"),       // "c d" repeats doc 1 -> dropped; "e f" kept
      (3L, "a b a b"),       // both spans repeat "a b" -> doc empty
      (4L, "")               // no spans at all
    ).toDF("doc_id", "text")
      .unionByName(Seq((5L, Option.empty[String])).toDF("doc_id", "text"))
    val out = Dedup.dedupSpans(df, "text", "doc_id", windowWords = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_spans", "n_kept", "text_dedup")
      .as[(Long, Int, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2, 2L, "a b c d"),
      (2L, 2, 1L, "e f"),
      (3L, 2, 0L, ""),
      (4L, 0, 0L, ""),
      (5L, 0, 0L, "")))   // null text survives as an empty row
  }

  test("dedupSpans within-document repeats keep the earliest position") {
    val df = Seq((7L, "x y x y x y")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(df, "text", "doc_id", windowWords = 2)
      .select("n_spans", "n_kept", "text_dedup").as[(Int, Long, String)].collect()(0)
    assert(out == ((3, 1L, "x y")))
  }

  test("packSequences assigns concat-and-chunk pack ids per shard") {
    val df = Seq(
      // shard A: token counts 100, 100, 100 at budget 256
      (1L, "A", 100L), (2L, "A", 100L), (3L, "A", 100L),
      // shard B: a doc longer than the budget straddles multiple packs
      (4L, "B", 300L), (5L, "B", 10L)
    ).toDF("id", "shard", "toks")
    val out = Packing.packSequences(df, col("toks"), col("shard"), col("id"), budget = 256)
      .orderBy("id").select("id", "pack_id", "pack_offset")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 0L),    // starts at 0
      (2L, 0L, 100L),  // starts at 100, same pack
      (3L, 0L, 200L),  // starts at 200 — runs past the boundary into pack 1
      (4L, 0L, 0L),    // shard B restarts at 0
      (5L, 1L, 44L)))  // starts at 300 = pack 1, offset 44
  }

  test("temperatureSample flattens head classes and caps at availability") {
    // class sizes 16/4/1, alpha 0.5 -> weights 4/2/1, wsum 7, ntot 21
    // -> allocations floor(21*4/7)=12, floor(21*2/7)=6, floor(21*1/7)=3
    // -> keeps 12 (head trimmed), 4 (capped), 1 (capped)
    val rows = (1L to 16L).map(i => (i, "big")) ++
      (17L to 20L).map(i => (i, "mid")) ++ Seq((21L, "tiny"))
    val df = rows.toDF("id", "cls")
    val kept = Sampling.temperatureSample(df, col("cls"), col("id"), 0.5)
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(kept == Map("big" -> 12L, "mid" -> 4L, "tiny" -> 1L))
    // deterministic: same input -> identical row set
    val again = Sampling.temperatureSample(df, col("cls"), col("id"), 0.5)
      .select("id").as[Long].collect().toSet
    val first = Sampling.temperatureSample(df, col("cls"), col("id"), 0.5)
      .select("id").as[Long].collect().toSet
    assert(again == first)
  }

  test("importanceWeight: in-domain docs score higher; target-unseen tokens stay finite") {
    val target = Seq((100L, "science physics quantum theory experiment")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "physics experiment quantum theory"),      // fully in-domain
      (2L, "football match goal score referee"),      // fully out-of-domain
      (3L, "physics match quantum referee")           // mixed
    ).toDF("doc_id", "text")
    val w = graft.pipeline.TextAnalysis.importanceWeight(
        corpus, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size == 3 && w.values.forall(v => !v.isNaN && !v.isInfinite))
    assert(w(1L) > w(3L) && w(3L) > w(2L),
      s"expected in-domain > mixed > out-of-domain, got $w")
    // deterministic re-run
    val again = graft.pipeline.TextAnalysis.importanceWeight(
        corpus, "doc_id", "text", target, "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == w)
  }

  test("capPerGroup enforces the cap; salted two-phase path is identical to plain") {
    // skewed groups: one mega-group of 200, two small ones (one under cap)
    val rows = (1L to 200L).map(i => (i, "mega")) ++
      (201L to 220L).map(i => (i, "mid")) ++ Seq((221L, "tiny"))
    val df = rows.toDF("id", "grp")
    val plain = Sampling.capPerGroup(df, col("grp"), col("id"), 10)
    val counts = plain.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts == Map("mega" -> 10L, "mid" -> 10L, "tiny" -> 1L))
    // the two-phase salted form must select the SAME rows for any salt
    val plainIds = plain.select("id").as[Long].collect().toSet
    for (parts <- Seq(2, 7)) {
      val salted = Sampling.capPerGroup(df, col("grp"), col("id"), 10, presaltParts = parts)
        .select("id").as[Long].collect().toSet
      assert(salted == plainIds, s"salted(parts=$parts) diverged from plain")
    }
    // deterministic re-run
    assert(Sampling.capPerGroup(df, col("grp"), col("id"), 10)
      .select("id").as[Long].collect().toSet == plainIds)
  }

  test("takeTokenBudget: exact greedy prefix in md5-rank order, bucket-invariant") {
    val df = (1L to 60L).map(i => (i, i % 7 + 1)).toDF("id", "ntok")
    // local reference: same md5-hex rank order, inclusive running total
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val ordered = (1L to 60L).sortBy(i => (md5hex(i.toString), i))
    var cum = 0L
    val expect = scala.collection.mutable.Map[Long, Long]()
    for (i <- ordered) { cum += i % 7 + 1; if (cum <= 100L) expect(i) = cum }
    for (chars <- Seq(1, 2)) {
      val got = Sampling.takeTokenBudget(df, col("id"), col("ntok"), 100L,
          prefixChars = chars)
        .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
      assert(got == expect.toMap, s"prefixChars=$chars diverged from local prefix sum")
    }
    // null ids drop; null token counts count as zero
    val withNulls = Seq((Some(1L), Some(5L)), (None, Some(9L)), (Some(2L), None))
      .toDF("id", "ntok")
    val kept = Sampling.takeTokenBudget(withNulls, col("id"), col("ntok"), 100L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(kept.keySet == Set(1L, 2L) && kept.values.max == 5L)
  }

  test("assignShards: token-boundary shards match a local computation; manifest checks out") {
    val df = (1L to 40L).map(i => (i, i % 5 + 2)).toDF("id", "ntok")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // local reference: exclusive running total in md5 order, shard = floor(ex/20)
    var cum = 0L
    val expect = (1L to 40L).sortBy(i => (md5hex(i.toString), i)).map { i =>
      val n = i % 5 + 2; val ex = cum; cum += n; i -> ex / 20L
    }.toMap
    val assigned = Sampling.assignShards(df, col("id"), col("ntok"), 20L)
    val got = assigned.select("id", "shard_id").as[(Long, Long)].collect().toMap
    assert(got == expect)
    // manifest: doc/token counts and order-free checksum agree with a local fold
    val man = Sampling.shardManifest(assigned, col("id"), col("ntok"), col("shard_id"))
      .orderBy("shard_id")
      .select("shard_id", "n_docs", "token_total", "id_checksum")
      .as[(Long, Long, Long, Long)].collect()
    val local = expect.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (sh, rows) =>
      (sh, rows.size.toLong, rows.map { case (i, _) => i % 5 + 2 }.sum,
        rows.map { case (i, _) => java.lang.Long.parseLong(md5hex(i.toString).take(8), 16) }.sum)
    }
    assert(man.toSeq == local)
  }

  test("writeShardedCorpus: one directory and one data file per shard; round-trips") {
    val df = (1L to 40L).map(i => (i, i % 5 + 2)).toDF("id", "ntok")
    val assigned = Sampling.assignShards(df, col("id"), col("ntok"), 20L)
    val dir = tempDir("shardw") + "/corpus"
    Sampling.writeShardedCorpus(assigned, dir)
    val shardDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    val nShards = assigned.select("shard_id").distinct().count()
    assert(shardDirs.length == nShards)
    // one data file per shard (the repartition contract)
    shardDirs.foreach { d =>
      val files = new java.io.File(s"$dir/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$d has ${files.length} files")
    }
    // round-trip: same rows, shard column reconstructed from the layout
    val back = spark.read.parquet(dir).select("id", "shard_id")
      .as[(Long, Long)].collect().toSet
    val want = assigned.select("id", "shard_id").as[(Long, Long)].collect().toSet
    assert(back == want)
  }

  test("keepTopFraction keeps the per-shard score leaders with an exact cut") {
    val df = Seq(
      // shard A: 5 rows, frac 0.5 -> percent_rank <= 0.5 keeps ranks 1-3
      (1L, "A", 0.9), (2L, "A", 0.8), (3L, "A", 0.7), (4L, "A", 0.2), (5L, "A", 0.1),
      // shard B: ties at 0.5 resolved by id (asc), frac 0.5 of 3 rows
      (6L, "B", 0.5), (7L, "B", 0.5), (8L, "B", 0.4)
    ).toDF("id", "shard", "score")
    val kept = Sampling.keepTopFraction(df, col("score"), col("shard"), col("id"), 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 6L, 7L))
  }

  test("quantizeInt8 codes known vectors exactly and stores exact code sums") {
    val df = Seq((1L, Seq(0f, 51f, 255f)), (2L, Seq(5f, 5f, 5f))).toDF("id", "vec")
    val r = Similarity.quantizeInt8(df, "vec", "id").orderBy("id").collect()
    assert(r(0).getDouble(1) == 0.0)          // q_lo
    assert(r(0).getDouble(2) == 1.0)          // q_scale = (255-0)/255
    assert(r(0).getSeq[Int](3) == Seq(0, 51, 255))
    assert(r(0).getDouble(4) == 306.0)        // csum
    assert(r(0).getDouble(5) == 51.0 * 51 + 255.0 * 255) // csum2
    // constant vector: scale 0, all-zero codes
    assert(r(1).getDouble(2) == 0.0)
    assert(r(1).getSeq[Int](3) == Seq(0, 0, 0))
  }

  test("bandScan: exact cosine band hardest-first; IVF prune is a subset, full probe exact") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(5)._2
    val got = Similarity.bandScan(df, "embedding", "vec_id", query, 0.2, 0.8)
      .as[(Long, Double)].collect().toSeq
    // exact baseline: every cosine, then the band filter
    val all = Similarity.bruteTopK(df, "embedding", "vec_id", query, 300)
      .as[(Long, Double)].collect().toSeq
    val want = all.filter(r => r._2 >= 0.2 && r._2 < 0.8)
    assert(got == want) // same values AND same hardest-first order
    assert(got.nonEmpty)
    assert(!got.exists(_._1 == 5L)) // the anchor (cosine 1) is above hi
    val dir = tempDir("graft-band") + "/idx"
    val cents = Similarity.ivfWriteIndex(df, "embedding", "vec_id", 8, dir)
    val pruned = Similarity.ivfBandScan(spark, dir, cents, "embedding", "vec_id",
      query, 0.2, 0.8, nProbe = 4).as[(Long, Double)].collect().toSeq
    assert(pruned.toSet.subsetOf(want.toSet)) // pruning only MISSES, never invents
    val full = Similarity.ivfBandScan(spark, dir, cents, "embedding", "vec_id",
      query, 0.2, 0.8, nProbe = 8).as[(Long, Double)].collect().toSeq
    assert(full == want) // probing every cell degenerates to the exact scan
  }

  test("lmScoreBigram: scores word order, not just rarity; smoothing floors unseen pairs") {
    val fluent = "the cat sat on the mat"
    val docs = (1 to 20).map(i => (i.toLong, fluent)) :+ ((99L, "mat the on sat cat the"))
    val df = docs.toDF("doc_id", "text")
    val bi = TextAnalysis.lmScoreBigram(df, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    val uni = TextAnalysis.lmScore(df, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    // same token multiset: the unigram model is blind to the scramble...
    assert(math.abs(uni(99L) - uni(1L)) < 1e-9)
    // ...the bigram model is not
    assert(bi(99L) > bi(1L) + 0.5, s"scrambled ${bi(99L)} vs fluent ${bi(1L)}")
    // external training corpus: pairs it never saw get the finite
    // smoothed floor k/(k·V), never minus-infinity/NaN
    val train = Seq((1L, fluent)).toDF("doc_id", "text")
    val ext = TextAnalysis.lmScoreBigram(Seq((7L, "zz qq")).toDF("doc_id", "text"),
      "doc_id", "text", trainOn = Some(train)).as[(Long, Double)].collect()
    assert(ext.length == 1 && !ext(0)._2.isNaN && !ext(0)._2.isInfinity)
  }

  test("topKQuantized keeps the self-match and high overlap with exact top-k") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val query = vecs(5)._2
    val exact = Similarity.bruteTopK(df, "embedding", "vec_id", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    val q8 = Similarity.quantizeInt8(df, "embedding", "vec_id")
    val approx = Similarity.topKQuantized(q8, "vec_id", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(approx.head == 5L, s"self-match lost: $approx")
    assert(exact.toSet.intersect(approx.toSet).size >= 7,
      s"q8 recall too low: exact=$exact approx=$approx")
  }

  test("pq encode picks nearest subspace centroids; ties go to the lowest code") {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    // m=2 subspaces of 2 dims; codebooks: subspace 0 has centroids
    // (0,0) and (10,10); subspace 1 has (5,5) and (-5,-5)
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(10.0, 10.0)),
      Array(Array(5.0, 5.0), Array(-5.0, -5.0)))
    val df = Seq(
      (1L, Seq(1f, 1f, 4f, 4f)),     // -> codes (0, 0)
      (2L, Seq(9f, 9f, -4f, -6f)),   // -> codes (1, 1)
      (3L, Seq(5f, 5f, 0f, 0f))      // equidistant twice -> ties -> (0, 0)
    ).toDF("id", "vec")
    val out = df.select(col("id"),
        C(graft.functions.PqEncodeExpr(E(col("vec")), books)).as("codes"))
      .orderBy("id").as[(Long, Seq[Int])].collect().toSeq
    assert(out == Seq((1L, Seq(0, 0)), (2L, Seq(1, 1)), (3L, Seq(0, 0))))
    // ragged input nulls out
    val bad = Seq((9L, Seq(1f, 2f, 3f))).toDF("id", "vec")
      .select(C(graft.functions.PqEncodeExpr(E(col("vec")), books)).as("codes"))
      .collect()(0)
    assert(bad.isNullAt(0))
  }

  test("pqTopK keeps the self-match and reasonable overlap with exact top-k") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, "embedding", "vec_id", m = 4, k = 64, seed = 1L)
    val enc = Similarity.pqEncode(df, "embedding", "vec_id", books)
    assert(enc.count() == 300)
    val query = vecs(9)._2
    val exact = Similarity.bruteTopK(df, "embedding", "vec_id", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    val approx = Similarity.pqTopK(enc, books, "vec_id", query, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(approx.head == 9L, s"self-match lost: $approx")
    assert(exact.toSet.intersect(approx.toSet).size >= 5,
      s"pq recall too low: exact=$exact approx=$approx")
  }

  test("pq ADC kernel is bit-equal to the declarative fold; bad codes null out") {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    val rnd = new scala.util.Random(17)
    val m = 4; val k = 16
    val table = Array.fill(m * k)(rnd.nextDouble() * 2 - 1)
    val rows = (0L until 500L).map(i => (i, Seq.fill(m)(rnd.nextInt(k))))
    val df = rows.toDF("id", "pq_codes")
    val kernel = C(graft.functions.PqAdcExpr(E(col("pq_codes")), table, m, k))
    // the declarative twin the kernel replaced, evaluated on the same rows
    val fold = aggregate(zip_with(col("pq_codes"), sequence(lit(0), lit(m - 1)),
      (c, j) => element_at(typedLit(table.toSeq), (j * k + c + 1).cast("int"))),
      lit(0.0), _ + _)
    val diff = df.select(kernel.as("a"), fold.as("b"))
      .filter(col("a") =!= col("b") || col("a").isNull).count()
    assert(diff == 0) // same left-fold order -> bit-equal, not just close
    // ragged length and out-of-range codes null out instead of misindexing
    val bad = Seq((1L, Seq(0, 1)), (2L, Seq(0, 1, 2, 99))).toDF("id", "pq_codes")
      .select(C(graft.functions.PqAdcExpr(E(col("pq_codes")), table, m, k)))
      .collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("pq index round-trip: codebooks and probe survive persistence") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 100L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
    val df = vecs.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, "embedding", "vec_id", m = 2, k = 16, seed = 3L)
    val path = tempDir("pqidx") + "/idx"
    Similarity.pqWriteIndex(df, "embedding", "vec_id", books, path)
    val back = Similarity.pqReadCodebooks(spark, path)
    assert(back.map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq)
    val q = vecs(3)._2
    val fromDisk = Similarity.pqReadTopK(spark, path, back, "vec_id", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    val inMem = Similarity.pqTopK(
      Similarity.pqEncode(df, "embedding", "vec_id", books), books, "vec_id", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(fromDisk == inMem)
  }

  test("crossDupes/dedupAgainst: exact partition of incoming, bloom fpp-proof") {
    val incoming = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val reference = Seq((10L, "beta"), (11L, "delta"), (12L, "epsilon"),
      (13L, null.asInstanceOf[String])).toDF("id", "text")
    // tiny filter + high fpp: false positives likely, result must stay exact
    val dupes = Dedup.crossDupes(incoming, reference, "text", "id",
      expectedItems = 2, fpp = 0.5)
      .select("id").as[Long].collect().toSeq.sorted
    assert(dupes == Seq(2L, 4L), s"got $dupes")
    val kept = Dedup.dedupAgainst(incoming, reference, "text", "id",
      expectedItems = 2, fpp = 0.5)
      .select("id").as[Long].collect().toSeq.sorted
    // null text matches nothing (SQL EXISTS equality), so id=5 is kept
    assert(kept == Seq(1L, 3L, 5L), s"got $kept")
  }

  test("fuzzyPairs matches brute-force thresholded levenshtein across band edges") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab"
    // short strings over a 2-letter alphabet with lengths straddling many
    // band boundaries -> plenty of qualifying pairs, incl. cross-band ones
    val rows = (1L to 60L).map { i =>
      (i, (0 until (3 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(2))).mkString)
    } ++ Seq(61L -> "", 62L -> "a", 63L -> "ab", 64L -> "b") // tiny bucket + mixed tiny/long
    val df = rows.toDF("id", "k")
    val got = Dedup.fuzzyPairs(df, "k", "id", maxDist = 2)
      .select("id1", "id2", "dist").as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (i1, k1) <- rows; (i2, k2) <- rows if i1 < i2
      d = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(k1, k2)
      if d <= 2
    } yield (i1, i2, d.toInt)).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    // second pass at the CATALOG's maxDist=4 over longer strings — the
    // multi-match-aware window (r15) has more shift/Δ corner cases as d
    // grows, so the completeness pin must exercise the production setting
    val rows4 = (1L to 50L).map { i =>
      (i, (0 until (6 + rnd.nextInt(10))).map(_ => alphabet(rnd.nextInt(2))).mkString)
    } ++ Seq(51L -> "", 52L -> "aba", 53L -> "abab")
    val df4 = rows4.toDF("id", "k")
    val got4 = Dedup.fuzzyPairs(df4, "k", "id", maxDist = 4)
      .select("id1", "id2", "dist").as[(Long, Long, Int)].collect().toSet
    val brute4 = (for {
      (i1, k1) <- rows4; (i2, k2) <- rows4 if i1 < i2
      d = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
        .apply(k1, k2)
      if d <= 4
    } yield (i1, i2, d.toInt)).toSet
    assert(got4 == brute4, s"missing=${brute4 -- got4} extra=${got4 -- brute4}")
  }

  test("perplexityBuckets: tercile cuts tag head/middle/tail; ties land low; invariant") {
    // 9 docs with strictly increasing NLL: rare tokens raise it. Terciles
    // must produce 3/3/3 with the most-common-token docs in 'head'.
    val docs = (1 to 9).map { i =>
      // doc i repeats a shared token (9-i) times and carries i unique ones
      val shared = Seq.fill(10 - i)("common").mkString(" ")
      val unique = (1 to i).map(j => s"rare_${i}_$j").mkString(" ")
      (i.toLong, s"$shared $unique")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byBucket = out.groupBy(_.getAs[String]("bucket"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(byBucket("head") == Set(1L, 2L, 3L))
    assert(byBucket("middle") == Set(4L, 5L, 6L))
    assert(byBucket("tail") == Set(7L, 8L, 9L))
    // nll must be monotone in rarity for this construction
    val nll = out.map(_.getAs[Double]("nll"))
    assert(nll.sliding(2).forall(p => p(0) < p(1)))
    // partitioning cannot move a document across a cut
    val re = TextAnalysis.perplexityBuckets(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("lmScore: hand-computed unigram NLL; external train corpus drops unseen") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1, total=5
    val out = TextAnalysis.lmScore(df, "doc_id", "text")
      .orderBy("doc_id").select("nll").as[Double].collect()
    val ln = (x: Double) => math.log(x)
    val exp1 = (-ln(2.0 / 5) * 2 + -ln(2.0 / 5)) / 3
    val exp2 = (-ln(2.0 / 5) + -ln(1.0 / 5)) / 2
    assert(math.abs(out(0) - exp1) < 1e-5 && math.abs(out(1) - exp2) < 1e-5)
    // train on doc 1 only: 'c' is unseen -> excluded from doc 2's mean
    val ext = TextAnalysis.lmScore(df, "doc_id", "text",
      trainOn = Some(df.filter(col("doc_id") === 1)))
      .orderBy("doc_id").select("nll").as[Double].collect()
    val expExt2 = -ln(1.0 / 3) // b: count 1 of 3
    assert(math.abs(ext(1) - expExt2) < 1e-5)
  }

  test("covarianceReport: hand-computed entries, unit diagonal corr, zero-var guard, invariant") {
    // dims: x = (1,2,3,4), y = (2,4,6,8) (y = 2x, corr 1), z = (5,5,5,5)
    val df = Seq(
      Seq(1f, 2f, 5f), Seq(2f, 4f, 5f), Seq(3f, 6f, 5f), Seq(4f, 8f, 5f))
      .map(Tuple1(_)).toDF("v")
    val out = Cluster.covarianceReport(df, "v").orderBy("i", "j").collect()
    assert(out.length == 6) // upper triangle of 3 dims
    val m = out.map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) -> r).toMap
    // var(x) = ((1-2.5)^2+...)/4 = 1.25; cov(x,y) = 2*var(x) = 2.5
    assert(m((1, 1)).getAs[Double]("cov") == 1.25)
    assert(m((1, 2)).getAs[Double]("cov") == 2.5)
    assert(m((2, 2)).getAs[Double]("cov") == 5.0)
    // perfectly linear pair: corr exactly 1; diagonal corr 1
    assert(m((1, 2)).getAs[Double]("corr") == 1.0)
    assert(m((1, 1)).getAs[Double]("corr") == 1.0)
    // constant dim: cov 0 with everything, corr NULL (zero variance)
    assert(m((1, 3)).getAs[Double]("cov") == 0.0)
    assert(m((1, 3)).isNullAt(m((1, 3)).fieldIndex("corr")))
    assert(m((3, 3)).getAs[Double]("cov") == 0.0)
    // decimal sums: partitioning cannot move any entry
    val re = Cluster.covarianceReport(df.repartition(3), "v")
      .orderBy("i", "j").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("pcaPower: finds the dominant direction, unit norm, pinned sign, invariant") {
    // points spread along (1, 1, 0) with small noise off-axis: the first
    // principal component must align with the diagonal
    val pts = (0 until 40).map { i =>
      val t = (i - 20).toDouble
      Seq((t + 0.01 * (i % 3)).toFloat, (t - 0.01 * (i % 5)).toFloat,
        (0.02 * (i % 7)).toFloat)
    }
    val df = pts.map(Tuple1(_)).toDF("v")
    val (v, lam) = Cluster.pcaPower(df, "v")
    assert(v.length == 3)
    val nrm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-6, s"not unit: $nrm")
    // aligned with the diagonal: |v1| ~ |v2| >> |v3|
    assert(math.abs(math.abs(v(0)) - math.abs(v(1))) < 0.01)
    assert(math.abs(v(2)) < 0.05)
    // sign convention: max-|loading| entry is positive
    assert(v(v.indices.maxBy(i => (math.abs(v(i)), -i))) > 0)
    // eigenvalue ~ variance along the diagonal (t ranges +-20: var ~ 2*var(t))
    assert(lam > 100.0, s"eigenvalue too small: $lam")
    // deterministic across partitionings (decimal-summed rounds)
    val (v2, lam2) = Cluster.pcaPower(df.repartition(7), "v")
    assert(v.toSeq == v2.toSeq && lam == lam2)
    // projection variance onto the component reproduces the eigenvalue
    val scores = df.select(Similarity.dot(col("v"),
      typedLit(v.toSeq)).as("s")).as[Double].collect()
    val mu = scores.sum / scores.length
    val varS = scores.map(x => (x - mu) * (x - mu)).sum / scores.length
    assert(math.abs(varS - lam) / lam < 0.01, s"var $varS vs lambda $lam")
  }

  test("randomProject: norm preserved in expectation, deterministic, nulls dropped") {
    val rnd = new scala.util.Random(7)
    val pts = (1L to 60L).map(i =>
      (i, Seq.fill(32)((rnd.nextDouble() * 2 - 1).toFloat))) :+
      (99L, null.asInstanceOf[Seq[Float]])
    val df = pts.toDF("vec_id", "v")
    val out = Similarity.randomProject(df, "v", "vec_id", k = 8)
      .orderBy("id", "j").collect()
    assert(out.length == 60 * 8)                     // null row dropped
    assert(out.map(_.getInt(1)).distinct.sorted.toSeq == (1 to 8))
    // E[|y|^2] = |v|^2 under the sqrt(3/k) scale: the mean ratio over 60
    // vectors concentrates near 1 (k=8 is noisy per-vector)
    val n2 = pts.dropRight(1).map { case (i, v) =>
      i -> v.map(x => x.toDouble * x.toDouble).sum }.toMap
    val ratios = out.groupBy(_.getLong(0)).map { case (id, rs) =>
      rs.map(r => r.getDouble(2) * r.getDouble(2)).sum / n2(id) }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"mean ratio $mean")
    val re = Similarity.randomProject(df.repartition(7), "v", "vec_id", k = 8)
      .orderBy("id", "j").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("dupHistogram: sizes count clusters and docs, ws-normalized, invariant") {
    // "a b" x3 (one re-spaced), "c" x2, "d", "e", plus a null
    val df = Seq("a b", "a  b ", "a b", "c", "c", "d", "e",
        null.asInstanceOf[String]).map(Tuple1(_)).toDF("text")
    val out = Dedup.dupHistogram(df, "text")
      .orderBy("cluster_size").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)))
    val re = Dedup.dupHistogram(df.repartition(5), "text")
      .orderBy("cluster_size").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("embeddingOutliers: the planted far vector tops the list, invariant") {
    // 20 vectors near the origin, one planted far away: it must rank
    // first with a clearly positive z
    val pts = (1L to 20L).map(i =>
      (i, Seq((0.01 * (i % 5)).toFloat, (0.01 * (i % 3)).toFloat))) :+
      (99L, Seq(50.0f, 50.0f))
    val df = pts.toDF("vec_id", "v")
    val out = Cluster.embeddingOutliers(df, "v", "vec_id", topK = 3).collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 99L, out.toSeq.toString)
    assert(out(0).getDouble(2) > 3.0, s"z ${out(0).getDouble(2)}")
    assert(out(1).getDouble(2) <= out(0).getDouble(2))
    val re = Cluster.embeddingOutliers(df.repartition(7), "v", "vec_id", topK = 3)
      .collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
    // constant corpus: zero distance variance -> NULL z, id-ordered
    val const = (1L to 5L).map(i => (i, Seq(1.0f, 2.0f))).toDF("vec_id", "v")
    val cz = Cluster.embeddingOutliers(const, "v", "vec_id", topK = 2).collect()
    assert(cz.forall(_.isNullAt(2)))
    assert(cz.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("sourceOverlap: shared fingerprints per pair, ws-normalized, invariant") {
    // A: {t1,t2,t3}; B: {t1 (re-spaced), t4}; C: {t5} -> only (A,B) overlap
    val df = Seq(
      ("A", "hello world"), ("A", "doc two"), ("A", "doc three"),
      ("B", "  hello   WORLD "), ("B", "doc four"),
      ("C", "doc five"), ("C", null.asInstanceOf[String]))
      .toDF("source", "text")
    val out = Dedup.sourceOverlap(df, "text", "source").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getLong(2) == 1L && r.getLong(3) == 3L && r.getLong(4) == 2L)
    assert(r.getDouble(5) == 0.25) // 1 / (3 + 2 - 1)
    val re = Dedup.sourceOverlap(df.repartition(5), "text", "source").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("zipfFit: exact power law fits slope -1, deterministic ties, invariant") {
    // frequencies 24/r at ranks 1..4 — a pure Zipf(1) corpus
    val doc = (Seq.fill(24)("a") ++ Seq.fill(12)("b") ++ Seq.fill(8)("c")
      ++ Seq.fill(6)("d")).mkString(" ")
    val df = Seq(Tuple1(doc)).toDF("text")
    val out = TextAnalysis.zipfFit(df, "text", topN = 10).collect()(0)
    assert(out.getLong(0) == 4L)
    assert(math.abs(out.getDouble(1) - (-1.0)) < 1e-4, s"slope ${out.getDouble(1)}")
    assert(out.getDouble(3) > 0.9999, s"r2 ${out.getDouble(3)}")
    assert(math.abs(out.getDouble(2) - math.log(24.0)) < 1e-3)
    // deterministic across partitionings (decimal moments, pinned ties)
    val many = (1 to 50).map(_ => Tuple1(doc)).toDF("text").repartition(7)
    val a = TextAnalysis.zipfFit(many, "text").collect()(0)
    val b = TextAnalysis.zipfFit(many.repartition(3), "text").collect()(0)
    assert(a.toSeq == b.toSeq)
  }

  test("rankedEval: hand-computed MRR and nDCG, zero-hit query, short exact set") {
    // q1: exact {10,11,12}; approx ranks: 11 (hit@1), 99 (miss), 12 (hit@3)
    // q2: exact {20,21,22}; approx all misses -> 0/0
    // q3: exact {30,31} (total 2 < k): approx 31 (hit@1), 30 (hit@2), 98
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L)).toDF("qid", "id")
    val approx = Seq((1L, 11L, 0.9), (1L, 99L, 0.8), (1L, 12L, 0.7),
      (2L, 90L, 0.9), (2L, 91L, 0.8),
      (3L, 31L, 0.9), (3L, 30L, 0.8), (3L, 98L, 0.7))
      .toDF("qid", "id", "cosine")
    val out = Retrieval.rankedEval(exact, approx, 3)
      .orderBy("qid").collect()
    val d = Retrieval.dcgDiscounts(3)
    val ideal = Retrieval.dcgIdeal(3)
    assert(d(0) == 1.0 && d(2) == 0.5)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getDouble(2) == 1.0)                       // q1 mrr: hit@1
    assert(out(0).getDouble(3) == r9((d(0) + d(2)) / ideal(2))) // q1 ndcg
    assert(out(1).getDouble(2) == 0.0 && out(1).getDouble(3) == 0.0) // q2
    assert(out(2).getLong(1) == 2L)                          // q3 total = 2
    assert(out(2).getDouble(3) == r9((d(0) + d(1)) / ideal(1))) // idcg @ total=2
    // partition invariance (decimal-summed DCG)
    val re = Retrieval.rankedEval(exact.repartition(5), approx.repartition(7), 3)
      .orderBy("qid").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("medoids: closest member per cluster, lowest-id ties, partition-invariant") {
    // two obvious clusters around (0,0) and (10,10); ids chosen so the
    // closest member is NOT the lowest id in its cluster
    val pts = Seq(
      (1L, Seq(0.4f, 0.0f)), (2L, Seq(0.1f, 0.1f)), (3L, Seq(-0.3f, 0.2f)),
      (4L, Seq(10.5f, 10.0f)), (5L, Seq(10.1f, 10.1f)), (6L, Seq(9.6f, 9.9f)))
    val df = pts.toDF("vec_id", "v")
    val out = Cluster.medoids(df, "v", "vec_id", k = 2, iters = 3)
      .orderBy("cluster").collect()
    assert(out.length == 2)
    val byAssign = Cluster.kmeansAssign(df, "v", "vec_id", k = 2, iters = 3)
      .collect().groupBy(_.getInt(1))
    out.foreach { m =>
      val members = byAssign(m.getInt(0))
      val best = members.minBy(r => (r.getDouble(2), r.getLong(0)))
      assert(m.getLong(1) == best.getLong(0),
        s"cluster ${m.getInt(0)}: medoid ${m.getLong(1)} != argmin ${best.getLong(0)}")
    }
    val re = Cluster.medoids(df.repartition(5), "v", "vec_id", k = 2, iters = 3)
      .orderBy("cluster").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("clusterPurity: majority share per cluster, smallest-label ties, invariant") {
    // cluster around origin: labels a,a,b -> purity 2/3 top 'a';
    // cluster around (10,10): labels b,c (tie) -> smallest label 'b' wins
    val pts = Seq(
      (1L, Seq(0.1f, 0.0f), "a"), (2L, Seq(0.0f, 0.2f), "a"),
      (3L, Seq(-0.1f, 0.1f), "b"),
      (4L, Seq(10.0f, 10.1f), "c"), (5L, Seq(10.2f, 9.9f), "b"))
    val df = pts.toDF("vec_id", "v", "label")
    val out = Cluster.clusterPurity(df, "v", "vec_id", "label", k = 2, iters = 3)
      .orderBy("cluster").collect()
    assert(out.length == 2)
    val byN = out.map(r => r.getLong(1) -> r).toMap
    val big = byN(3L); val small = byN(2L)
    assert(big.getString(2) == "a")
    assert(big.getDouble(3) ==
      BigDecimal(2.0 / 3.0).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(small.getString(2) == "b", "count tie must break to the smallest label")
    assert(small.getDouble(3) == 0.5)
    val re = Cluster.clusterPurity(df.repartition(5), "v", "vec_id", "label",
      k = 2, iters = 3).orderBy("cluster").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("kCenterGreedy: farthest-point picks, non-increasing radius, invariant") {
    // points on a line: greedy from id 1 (x=0) must pick the far end
    // first, then the middle
    val pts = (1L to 9L).map(i => (i, Seq(((i - 1) * 1.0).toFloat, 0.0f)))
    val df = (pts :+ (10L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "v")
    val out = Sampling.kCenterGreedy(df, "v", "vec_id", k = 4)
      .orderBy("step").collect()
    assert(out.length == 4)
    assert(out(0).getLong(1) == 1L && out(0).isNullAt(2)) // smallest id seeds
    assert(out(1).getLong(1) == 9L)                       // farthest: x=8, d=64
    assert(out(1).getDouble(2) == 64.0)
    assert(out(2).getLong(1) == 5L)                       // middle: min-dist 16
    assert(out(2).getDouble(2) == 16.0)
    // covering radius never grows as centers are added
    val ds = out.drop(1).map(_.getDouble(2))
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b }, ds.toSeq.toString)
    val re = Sampling.kCenterGreedy(df.repartition(7), "v", "vec_id", k = 4)
      .orderBy("step").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("kCenterGreedy: duplicates never re-picked; small corpus ends early") {
    // ids 1 and 2 share a vector; k=3 over 3 distinct positions must pick
    // three DISTINCT ids even though the duplicate sits at distance 0
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(4.0f, 0.0f)), (4L, Seq(0.0f, 3.0f))).toDF("vec_id", "v")
    val out = Sampling.kCenterGreedy(df, "v", "vec_id", k = 4)
      .orderBy("step").collect()
    assert(out.map(_.getLong(1)).distinct.length == 4, out.toSeq.toString)
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L, 4L, 2L))
    assert(out(3).getDouble(2) == 0.0) // the duplicate joins last, at d=0
    // k larger than the corpus: returns every row once, then stops
    val small = Sampling.kCenterGreedy(df, "v", "vec_id", k = 10)
      .orderBy("step").collect()
    assert(small.length == 4)
    assert(small.map(_.getLong(1)).distinct.length == 4)
  }

  test("clusterPurity: null labels are excluded from counts and ties") {
    val pts = Seq(
      (1L, Seq(0.1f, 0.0f), "a"), (2L, Seq(0.0f, 0.2f), null),
      (3L, Seq(-0.1f, 0.1f), "b"),
      (4L, Seq(10.0f, 10.1f), null), (5L, Seq(10.2f, 9.9f), null))
    val df = pts.toDF("vec_id", "v", "label")
    val out = Cluster.clusterPurity(df, "v", "vec_id", "label", k = 2, iters = 2)
      .collect()
    // all-null cluster drops out; the mixed cluster counts 2 labeled rows
    assert(out.length == 1)
    assert(out(0).getLong(1) == 2L)
    assert(out(0).getString(2) == "a") // a/b tie at 1 -> smallest label
    assert(out(0).getDouble(3) == 0.5)
  }

  test("pcaPower: constant corpus annihilates to (e_1, 0) — the contract the oracle replays") {
    val df = (1 to 10).map(_ => Tuple1(Seq(3.0f, -1.0f, 2.0f))).toDF("v")
    val (v, lam) = Cluster.pcaPower(df, "v")
    assert(lam == 0.0)
    assert(v.toSeq == Seq(1.0, 0.0, 0.0))
    // deflation over the zero matrix stays pinned too
    val ((v1, l1), (v2, l2)) = Cluster.pcaPowerDeflated(df, "v")
    assert(l1 == 0.0 && l2 == 0.0)
    assert(v1.toSeq == Seq(1.0, 0.0, 0.0) && v2.toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("pcaPowerDeflated: pc2 orthogonal to pc1, smaller eigenvalue, pinned, invariant") {
    // variance concentrated on axis 1 (t), then axis 2 (0.3 u), noise on 3
    val pts = (0 until 48).map { i =>
      val t = (i - 24).toDouble
      val u = ((i * 7) % 13 - 6).toDouble
      Seq(t.toFloat, (0.3 * u).toFloat, (0.01 * (i % 5)).toFloat)
    }
    val df = pts.map(Tuple1(_)).toDF("v")
    val ((v1, l1), (v2, l2)) = Cluster.pcaPowerDeflated(df, "v")
    assert(l1 > l2 && l2 > 0, s"eigenvalues not ordered: $l1, $l2")
    // both unit norm
    assert(math.abs(math.sqrt(v1.map(x => x * x).sum) - 1.0) < 1e-6)
    assert(math.abs(math.sqrt(v2.map(x => x * x).sum) - 1.0) < 1e-6)
    // orthogonal up to the 1e-9 deflation rounding
    val dot12 = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-4, s"pc1·pc2 = $dot12")
    // pc2 dominated by axis 2
    assert(math.abs(v2(1)) > 0.99, s"pc2 off-axis: ${v2.toSeq}")
    // pc1 of the pair matches the plain pcaPower result exactly
    val (p1, pl1) = Cluster.pcaPower(df, "v")
    assert(v1.toSeq == p1.toSeq && l1 == pl1)
    // deterministic across partitionings
    val ((w1, m1), (w2, m2)) = Cluster.pcaPowerDeflated(df.repartition(7), "v")
    assert(v1.toSeq == w1.toSeq && v2.toSeq == w2.toSeq && l1 == m1 && l2 == m2)
  }

  test("standardize: hand-computed z-scores, zero-variance dim NULL, partition-invariant") {
    // dim 1: values 1,2,3 (mu=2, pop var=2/3); dim 2: constant 5 (var=0)
    val df = Seq((1, Seq(1.0f, 5.0f)), (2, Seq(2.0f, 5.0f)),
      (3, Seq(3.0f, 5.0f))).toDF("id", "v")
    val out = Cluster.standardize(df, "v", "id")
      .orderBy("id", "i").collect()
    assert(out.length == 6)
    val sd = math.sqrt(2.0 / 3.0)
    val exp = Seq(-1.0 / sd, 1.0 / sd).map(x =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0).getDouble(2) == exp(0))     // id 1 dim 1: (1-2)/sd
    assert(out(2).getDouble(2) == 0.0)        // id 2 dim 1: at the mean
    assert(out(4).getDouble(2) == exp(1))     // id 3 dim 1: (3-2)/sd
    assert(Seq(1, 3, 5).forall(out(_).isNullAt(2)), "zero-variance dim must be NULL")
    // decimal-exact stats: invariant under repartitioning
    val re = Cluster.standardize(df.repartition(5), "v", "id")
      .orderBy("id", "i").collect()
    assert(re.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
    // standardized column has mean 0 and unit population variance (z is
    // published rounded to 6 decimals, so the invariants hold to ~1e-6)
    val zs = Seq(out(0), out(2), out(4)).map(_.getDouble(2))
    assert(math.abs(zs.sum) < 1e-5)
    assert(math.abs(zs.map(z => z * z).sum / 3 - 1.0) < 1e-5)
  }

  test("sourceDivergence: hand-computed KL, zero for corpus-shaped groups, partition-invariant") {
    // g1: a a b (p = 2/3, 1/3); g2: a b b c (p = 1/4, 2/4, 1/4)
    // corpus: a=3 b=3 c=1, n=7
    val df = Seq(("g1", "A a  b"), ("g2", "a b B c")).toDF("source", "text")
    val out = TextAnalysis.sourceDivergence(df, "source", "text")
      .orderBy("source").collect()
    val ln = (x: Double) => math.log(x)
    val exp1 = 2.0 / 3 * ln((2.0 / 3) / (3.0 / 7)) + 1.0 / 3 * ln((1.0 / 3) / (3.0 / 7))
    val exp2 = 0.25 * ln(0.25 / (3.0 / 7)) + 0.5 * ln(0.5 / (3.0 / 7)) +
      0.25 * ln(0.25 / (1.0 / 7))
    assert(out(0).getAs[Long]("n_tokens") == 3 && out(0).getAs[Long]("vocab") == 2)
    assert(out(1).getAs[Long]("n_tokens") == 4 && out(1).getAs[Long]("vocab") == 3)
    assert(math.abs(out(0).getAs[Double]("kl") - exp1) < 1e-5)
    assert(math.abs(out(1).getAs[Double]("kl") - exp2) < 1e-5)
    // two groups with identical token distributions: both sit AT the
    // corpus blend, so both diverge by exactly zero
    val same = Seq(("x", "a b"), ("y", "b a")).toDF("source", "text")
    TextAnalysis.sourceDivergence(same, "source", "text").collect()
      .foreach(r => assert(r.getAs[Double]("kl") == 0.0))
    // decimal-summed addends: repartitioning cannot move the result
    val big = (1 to 60).map(i => (s"s${i % 4}", s"tok$i the of and a b$i"))
      .toDF("source", "text")
    val a = TextAnalysis.sourceDivergence(big, "source", "text")
      .orderBy("source").collect().toSeq
    val b = TextAnalysis.sourceDivergence(big.repartition(17), "source", "text")
      .orderBy("source").collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("ivfPq: persisted probe prunes partitions, never reads vectors, recalls") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 7).select("embedding").collect()(0).getSeq[Float](0)
    val path = tempDir("ivfpqidx") + "/idx"
    val (cents, books) = Similarity.ivfPqWriteIndex(emb, "embedding", "vec_id",
      nCells = 8, m = 8, k = 64, path)
    // both halves survive persistence
    assert(Similarity.ivfReadCentroids(spark, path).toSeq == cents.toSeq)
    assert(Similarity.pqReadCodebooks(spark, path).map(_.map(_.toSeq).toSeq).toSeq ==
      books.map(_.map(_.toSeq).toSeq).toSeq)
    val probe = Similarity.ivfPqReadTopK(spark, path, cents, books,
      "vec_id", q, 10, nProbe = 8) // all cells -> pure PQ ranking
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(!plan.contains("embedding"), "probe plan reads the float vector column")
    // nProbe = all cells should equal the flat-PQ ranking (same books)
    val flat = Similarity.pqTopK(
      Similarity.pqEncode(emb, "embedding", "vec_id", books), books,
      "vec_id", q, 10).select("vec_id").as[Long].collect().toSeq
    val got = probe.select("vec_id").as[Long].collect().toSeq
    assert(got == flat, s"ivfpq(all cells) $got != flat pq $flat")
    // pruned probe keeps reasonable overlap with exact brute top-k
    val brute = Similarity.bruteTopK(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val pruned = Similarity.ivfPqReadTopK(spark, path, cents, books,
      "vec_id", q, 10, nProbe = 4).select("vec_id").as[Long].collect().toSet
    val recall = (brute intersect pruned).size.toDouble / brute.size
    assert(recall >= 0.3, s"ivfpq recall $recall vs brute too low")
  }

  test("salientTerms ranks by tf/df with deterministic term tie-breaks") {
    val df = Seq(
      (1L, "rare rare common"),   // "rare" df=1 tf=2 -> ratio 2.0 beats "common" df=3
      (2L, "common common other"),
      (3L, "common other")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.salientTerms(df, "doc_id", "text", k = 2)
      .orderBy("doc_id", "term_rank")
      .select("doc_id", "term_rank", "term", "tf", "df")
      .as[(Long, Int, String, Long, Long)].collect().toSeq
    assert(out.take(2) == Seq(
      (1L, 1, "rare", 2L, 1L),
      (1L, 2, "common", 1L, 3L)))
    // doc 2: "common" tf=2 df=3 (0.667) beats "other" tf=1 df=2 (0.5)
    assert(out.slice(2, 4) == Seq(
      (2L, 1, "common", 2L, 3L),
      (2L, 2, "other", 1L, 2L)))
    // doc 3: tie at ratio? common 1/3 vs other 1/2 -> other first
    assert(out.drop(4) == Seq(
      (3L, 1, "other", 1L, 2L),
      (3L, 2, "common", 1L, 3L)))
  }

  test("unicode hygiene: NFC composes, mojibake inverts, legit text survives") {
    import org.apache.spark.sql.functions.{col, decode, encode}
    // multilingual round-trip inversion: corrupt through a latin-1
    // misdecode, repair with the kernel, recover the original exactly
    val texts = Seq("h\u00e9llo w\u00f6rld", "\u4e2d\u6587\u6587\u672c", "plain ascii",
      "\u00e9\u00e8\u00ea \u20ac caf\u00e9", "mixed \u00fc and \u4e2d")
    val df = texts.toDF("text")
    val roundTrip = df.select(
        TextAnalysis.fixMojibake(decode(encode(col("text"), "UTF-8"), "ISO-8859-1")).as("fixed"),
        col("text"))
      .collect()
    roundTrip.foreach(r => assert(r.getString(0) == r.getString(1),
      s"inversion failed for ${r.getString(1)}"))
    // cp1252-style corruption (curly quote) repairs too
    val curly = Seq("it\u00e2\u20ac\u2122s here").toDF("t")
      .select(TextAnalysis.fixMojibake(col("t"))).head().getString(0)
    assert(curly == "it\u2019s here")
    // legitimate accents and pure ASCII are untouched
    val keep = Seq("caf\u00e9 cr\u00e8me", "ascii only").toDF("t")
      .select(TextAnalysis.fixMojibake(col("t")), col("t")).collect()
    keep.foreach(r => assert(r.getString(0) == r.getString(1)))
    // NFC: decomposed e + combining acute composes; idempotent after
    val nfc = Seq("caf\u0065\u0301").toDF("t")
      .select(TextAnalysis.normalizeUnicode(col("t"))).head().getString(0)
    assert(nfc == "caf\u00e9")
    // null-safe
    val nulls = Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.normalizeUnicode(col("t")), TextAnalysis.fixMojibake(col("t")))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("lshAppendIndex: build-half-append-half probes equal the full rebuild") {
    val emb = sf("embeddings")
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0)
    val dim = q.length
    val full = tempDir("lshfull") + "/idx"
    val inc = tempDir("lshinc") + "/idx"
    Similarity.lshWriteIndex(emb, "embedding", nBits = 16, dim = dim, path = full)
    Similarity.lshWriteIndex(emb.filter(col("vec_id") % 2 === 0),
      "embedding", nBits = 16, dim = dim, path = inc)
    Similarity.lshAppendIndex(emb.filter(col("vec_id") % 2 === 1),
      "embedding", nBits = 16, dim = dim, path = inc)
    def probe(p: String) = Similarity.lshReadTopK(spark, p, "embedding", "vec_id",
      q, 10, nBits = 16, maxHamming = 8).select("vec_id").as[Long].collect().toSeq
    assert(probe(inc) == probe(full))
    // appended rows carry bit-identical sketches (same plane family)
    val a = spark.read.parquet(full).select("vec_id", "__sk_embedding")
      .as[(Long, Seq[Long])].collect().toMap
    val b = spark.read.parquet(inc).select("vec_id", "__sk_embedding")
      .as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
  }

  test("ivfAppendIndex: delta lands in argmax cells; probes see appended rows") {
    val emb = sf("embeddings")
    val path = tempDir("ivfinc") + "/idx"
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", nCells = 4, path)
    Similarity.ivfAppendIndex(emb.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", path)
    val idx = spark.read.parquet(path)
    assert(idx.count() == emb.count())
    // appended rows sit in the cell whose stored centroid maximizes cosine
    val cs = Similarity.ivfReadCentroids(spark, path)
    val manual = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), greatest(cs.indices.map(i => struct(
        Similarity.cosine(col("embedding"), typedLit(cs(i))).as("cos"),
        lit(i).as("cell"))): _*).getField("cell").as("c"))
      .as[(Long, Int)].collect().toMap
    val stored = idx.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("__cell")).as[(Long, Int)].collect().toMap
    assert(stored == manual)
    // a probe with an appended (odd-id) vector finds itself first
    val q = emb.filter(col("vec_id") === 5).select("embedding")
      .collect()(0).getSeq[Float](0)
    val top = Similarity.ivfTopK(idx, cs, "embedding", "vec_id", q,
      k = 3, nProbe = 2).select("vec_id").as[Long].collect()
    assert(top.headOption.contains(5L))
  }

  test("incrementalNearDup: edited history flags, fresh content passes") {
    val docs = sf("documents").limit(60).select("doc_id", "text")
    val ledger = Dedup.minhashLedger(docs, "text", "doc_id",
      shingleSize = 5, numHashes = 64, bands = 16)
    val edited = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000).as("doc_id"),
        concat(col("text"), lit(" tail edit")).as("text"))
    val fresh = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 2000).as("doc_id"),
        concat(lit("совершенно new words nothing shared at all doc "),
          col("doc_id").cast("string")).as("text"))
    val got = Dedup.incrementalNearDup(edited.unionByName(fresh), "text", "doc_id",
        ledger, shingleSize = 5, numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("new_id", "hist_id").as[(Long, Long)].collect()
    val flaggedNew = got.map(_._1).toSet
    // recall: most edited docs match their source (minhash at 64 hashes)
    val editedHit = (0L until 20L).count(i => got.contains((i + 1000, i)))
    assert(editedHit >= 18, s"recall too low: $editedHit/20")
    // precision: fresh docs never flag
    assert(flaggedNew.forall(_ < 2000), s"fresh doc flagged: $flaggedNew")
  }

  test("incrementalExact: within-batch dedup then ledger anti-join") {
    val hist = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("id", "t")
    val ledger = Dedup.fingerprintLedger(hist, "t", "id")
    assert(ledger.count() == 2) // aa claimed by id 1
    val batch = Seq((10L, "aa"), (11L, "cc"), (12L, "cc"), (13L, "dd")).toDF("id", "t")
    val novel = Dedup.incrementalExact(batch, "t", "id", ledger)
      .select("id", "dupes").as[(Long, Long)].collect().toSet
    // "aa" is history, dropped; "cc" dedups within batch to id 11 with 2 copies
    assert(novel == Set((11L, 2L), (13L, 1L)))
    // admitting the batch: ledger grows by exactly the novel contents
    val grown = ledger.unionByName(
      Dedup.fingerprintLedger(batch.join(
        novel.map(_._1).toSeq.toDF("id"), Seq("id"), "left_semi"), "t", "id"))
    assert(grown.count() == 4)
    val again = Dedup.incrementalExact(batch, "t", "id", grown)
    assert(again.count() == 0) // idempotent: nothing novel twice
  }

  // Zipf-ish corpus: item "i<r>" appears n/r times; heavily skewed, so a
  // tiny sketch must still surface the head
  private def zipfItems(n: Int, ranks: Int): Seq[String] =
    (1 to ranks).flatMap(r => Seq.fill(n / r)(s"i$r"))

  test("heavy hitters: MG sketch keys are a superset of items above n/(k+1)") {
    val items = scala.util.Random.shuffle(zipfItems(4096, 40)) // deterministic-enough law: any shuffle must satisfy it
    val df = items.toDF("x").repartition(5)
    val k = 8
    val sketchKeys = HeavyHitters.mgSketch(df, col("x"), k)
      .select("item").distinct().as[String].collect().toSet
    val total = items.size
    val exact = items.groupBy(identity).view.mapValues(_.size)
    val mustHave = exact.filter(_._2 > total / (k + 1)).keys.toSet
    assert(mustHave.subsetOf(sketchKeys),
      s"missing heavy items: ${mustHave.diff(sketchKeys)}")
    // counts are lower bounds
    val cnts = HeavyHitters.mgSketch(df.coalesce(1), col("x"), k)
      .as[(String, Long)].collect().toMap
    cnts.foreach { case (i, c) =>
      assert(c <= exact(i), s"sketch overcounts $i: $c > ${exact(i)}")
      assert(exact(i) - c <= total / (k + 1), s"sketch undercount of $i beyond bound")
    }
  }

  test("vocabOverlap: integer-exact pairwise Jaccard, no zero-overlap rows") {
    val docs = Seq(
      ("a", "x y z"), ("a", "x w"),      // vocab(a) = {x,y,z,w}
      ("b", "x y"),                      // vocab(b) = {x,y}
      ("c", "q")                         // vocab(c) = {q}, disjoint
    ).toDF("src", "text")
    val got = TextAnalysis.vocabOverlap(docs, "src", "text")
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(got == Set(("a", "b", 2L, 4L, 0.5))) // c pairs vanish (0 overlap)
    // duplicate tokens inside a doc count once (vocabulary, not frequency)
    val dup = Seq(("a", "x x x"), ("b", "x")).toDF("src", "text")
    assert(TextAnalysis.vocabOverlap(dup, "src", "text")
      .as[(String, String, Long, Long, Double)].head() == (("a", "b", 1L, 1L, 1.0)))
  }

  test("topKPerGroup equals per-group brute force with item tiebreak") {
    val rows = Seq("a" -> "x", "a" -> "x", "a" -> "y", "a" -> "z", "a" -> "y",
      "b" -> "p", "b" -> "q", "b" -> "q")
    val df = rows.toDF("g", "v").repartition(3)
    val got = HeavyHitters.topKPerGroup(df, Seq("g"), col("v"), n = 2)
      .select("g", "item", "cnt", "rk")
      .as[(String, String, Long, Int)].collect().toSet
    assert(got == Set(("a", "x", 2L, 1), ("a", "y", 2L, 2),
      ("b", "q", 2L, 1), ("b", "p", 1L, 2)))
  }

  test("weightedSample: deterministic E-S priorities, weight contract") {
    val df = (1L to 1000L).map(i => (i, (i % 7 + 1).toDouble)).toDF("id", "w")
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967297.0
    }
    val want = (1L to 1000L).map(i => (i, math.log(u(i)) / (i % 7 + 1).toDouble))
      .sortBy { case (i, p) => (-p, i) }.take(50).map(_._1).toSet
    val got = Sampling.weightedSample(df, col("id"), col("w"), 50)
      .select("id").as[Long].collect().toSet
    assert(got == want)
    // zero/negative/null weights never sampled; n > rows returns all valid
    val edge = Seq((1L, 2.0), (2L, 0.0), (3L, -1.0)).toDF("id", "w")
      .unionByName(Seq((4L, Option.empty[Double])).toDF("id", "w"))
    assert(Sampling.weightedSample(edge, col("id"), col("w"), 10)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // heavier rows are sampled more often across disjoint id universes
    val big = (1L to 4000L).map(i => (i, if (i <= 2000) 1.0 else 9.0)).toDF("id", "w")
    val picked = Sampling.weightedSample(big, col("id"), col("w"), 400)
      .select("id").as[Long].collect()
    val heavy = picked.count(_ > 2000)
    assert(heavy > 300, s"expected weight-9 rows to dominate, got $heavy/400")
  }

  test("heavy hitters: topKExact equals the exact groupBy top-n") {
    val items = zipfItems(2000, 30)
    val df = items.toDF("x").repartition(7)
    val got = HeavyHitters.topKExact(df, col("x"), n = 5, k = 16)
      .as[(String, Long)].collect().toSeq
    val want = items.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (i, c) => (-c, i) }.take(5)
    assert(got == want)
    // degenerate inputs: empty frame, all-null column
    assert(HeavyHitters.topKExact(Seq.empty[String].toDF("x"), col("x"), 3).count() == 0)
    assert(HeavyHitters.topKExact(Seq(Option.empty[String]).toDF("x"), col("x"), 3).count() == 0)
  }

  test("semantic dedup flags in-cluster lower-id epsilon neighbors") {
    val emb = sf("embeddings")
    // plant an exact copy of vector 0 at a high id: cosine 1.0 >= tau,
    // same cluster by construction -> the copy is the dup, 0 is kept
    val copy = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val out = Dedup.semantic(emb.unionByName(copy), "embedding", "vec_id",
      k = 4, iters = 1, tau = 0.999)
    val dup = out.filter(col("vec_id") === 1000000L).collect()
    assert(dup.length == 1 && dup(0).getBoolean(2) && dup(0).getLong(3) == 0L)
    val kept = out.filter(col("vec_id") === 0L).collect()
    assert(kept.length == 1 && !kept(0).getBoolean(2) && kept(0).isNullAt(3))
    assert(out.count() == emb.count() + 1) // one row per input, none dropped
  }

  test("semantic dedup maxCluster caps the pairwise pool but keeps all rows") {
    val emb = sf("embeddings").limit(60)
    // tau=-0.99: every (non-antipodal) row with a lower-id cluster-mate is a dup
    val full = Dedup.semantic(emb, "embedding", "vec_id", k = 2, iters = 1, tau = -0.99)
    val capped = Dedup.semantic(emb, "embedding", "vec_id", k = 2, iters = 1,
      tau = -0.99, maxCluster = 5)
    assert(capped.count() == 60 && full.count() == 60)
    // with the cap only the 5 smallest ids per cluster can pair -> at most
    // 4 dups per cluster; without it all but one per cluster are dups
    assert(capped.filter(col("is_dup")).count() <= 8)
    assert(full.filter(col("is_dup")).count() == 60 - 2)
  }

  test("anonymityReport: flags match brute-force group recount; suppress keeps exactly compliant rows") {
    val c = sf("customer").withColumn("qi", substring(col("c_name"), -1, 1))
    val rep = Privacy.anonymityReport(c, Seq("c_nationkey", "qi"), "c_mktsegment", 5, 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    val brute = c.select("c_nationkey", "qi", "c_mktsegment").collect()
      .groupBy(r => (r.getInt(0), r.getString(1)))
      .map { case (k, rs) => k -> (rs.length.toLong, rs.map(_.getString(2)).distinct.length.toLong) }
    assert(rep.keySet == brute.keySet)
    brute.foreach { case (k, (n, d)) =>
      assert(rep(k) == ((n, d, n >= 5, d >= 3)), s"group $k") }
    val kept = Privacy.suppress(c, Seq("c_nationkey", "qi"), "c_mktsegment", 5, 3)
    val expect = brute.collect { case (_, (n, d)) if n >= 5 && d >= 3 => n }.sum
    assert(kept.count() == expect)
    // every surviving row's group is compliant
    val keptGroups = kept.select("c_nationkey", "qi").distinct().collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(keptGroups.forall(k => brute(k)._1 >= 5 && brute(k)._2 >= 3))
  }

  test("epochShuffle: per-(epoch,shard) positions are contiguous 1..n; each epoch is a permutation; epochs differ") {
    val docs = sf("documents").limit(300)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val out = Sampling.epochShuffle(docs, "doc_id", epochs = 2, shards = 4).collect()
    assert(out.length == ids.size * 2)
    val byShard = out.groupBy(r => (r.getInt(0), r.getLong(1)))
    byShard.foreach { case (k, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length), s"shard $k") }
    (0 to 1).foreach { e =>
      assert(out.filter(_.getInt(0) == e).map(_.getLong(3)).toSet == ids) }
    // different epochs order docs differently (astronomically unlikely to tie)
    def order(e: Int) = out.filter(_.getInt(0) == e)
      .sortBy(r => (r.getLong(1), r.getInt(2))).map(_.getLong(3)).toSeq
    assert(order(0) != order(1))
  }

  test("cms estimate is always >= exact, and == exact when width kills collisions") {
    val ev = sf("events")
    val exact = ev.filter(col("event_type").isNotNull)
      .groupBy(col("event_type").cast("string").as("item"))
      .agg(count(lit(1)).as("exact"))
    def run(width: Int) = {
      val cs = HeavyHitters.cmsCounters(ev, col("event_type"), 4, width)
      HeavyHitters.cmsEstimate(cs, ev, col("event_type"), 4, width)
        .join(exact, Seq("item")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    val tight = run(8) // 8 buckets, ~8 items: collisions near-certain
    assert(tight.nonEmpty && tight.forall { case (_, est, ex) => est >= ex })
    val wide = run(1 << 16) // 65536 buckets: 4 independent rows each dodge collisions
    assert(wide.forall { case (_, est, ex) => est == ex })
    // counter table is bounded by depth*width regardless of input size
    assert(HeavyHitters.cmsCounters(ev, col("event_type"), 4, 8).count() <= 32)
  }
}
