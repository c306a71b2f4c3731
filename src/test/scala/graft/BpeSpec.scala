package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Bpe

/** BPE trainer/segmenter tests: exact merges on the classic Sennrich
  * corpus, greedy non-overlapping merge semantics, early stop, and the
  * reconstruction law (segment pieces concatenate back to the word).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // Sennrich et al. 2016 §3.2 worked example vocabulary: low×5, lower×2,
  // newest×6, widest×3 — expressed as a corpus with those word counts.
  private def sennrich = Seq(
    (1L, ("low " * 5).trim),
    (2L, ("lower " * 2).trim),
    (3L, ("newest " * 6).trim),
    (4L, ("widest " * 3).trim)).toDF("id", "text")

  test("trainMerges reproduces the Sennrich worked-example merges in order") {
    val merges = Bpe.trainMerges(sennrich, "text", numMerges = 4)
      .orderBy("rank")
      .select("left", "right", "pair_count")
      .as[(String, String, Long)].collect().toSeq
    // est(9) wins round 1 — 'es'+'t' after 'e','s' merge; with the
    // count-desc/lex tie-break the first four merges are:
    // (e,s)=9 [newest 6 + widest 3], (es,t)=9, (est,</w>)=9, (l,o)=7.
    assert(merges == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L), ("l", "o", 7L)))
  }

  test("applyMerge is greedy left-to-right and non-overlapping") {
    val df = Seq(Seq("a", "a", "a", "a"), Seq("a", "b", "a", "b"), Seq("b", "a"))
      .toDF("syms")
    val aa = df.select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].collect().toSeq
    assert(aa(0) == Seq("aa", "aa")) // "aaaa" -> [aa, aa], not [aa, a, a]
    val ab = df.select(Bpe.applyMerge(col("syms"), "a", "b").as("m"))
      .as[Seq[String]].collect().toSeq
    assert(ab(1) == Seq("ab", "ab"))
    assert(ab(2) == Seq("b", "a")) // order matters: (a,b) does not hit "ba"
  }

  test("trainMerges stops early when the best pair drops below minCount") {
    val df = Seq((1L, "ab ab cd")).toDF("id", "text")
    // (a,b)=2 then (ab,</w>)=2 pass minCount=2; after those, every
    // remaining pair (from cd×1) has count 1 < 2 -> exactly two merges
    // despite numMerges=10.
    val merges = Bpe.trainMerges(df, "text", numMerges = 10, minCount = 2)
      .orderBy("rank").select("left", "right").as[(String, String)].collect().toSeq
    assert(merges == Seq(("a", "b"), ("ab", "</w>")))
  }

  test("segment applies trained merges and pieces reconstruct each word") {
    val trained = Bpe.trainMerges(sennrich, "text", numMerges = 4)
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val segged = Seq((1L, "newest lowest")).toDF("id", "text")
      .select(Bpe.segment(col("text"), trained).as("pieces"))
      .as[Seq[Seq[String]]].collect()(0)
    // after (e,s),(es,t),(est,</w>),(l,o): newest -> [n,e,w,est</w>],
    // lowest -> [lo,w,est</w>]
    assert(segged(0) == Seq("n", "e", "w", "est</w>"))
    assert(segged(1) == Seq("lo", "w", "est</w>"))
    // reconstruction law: concatenating pieces minus the marker gives the word
    val rebuilt = segged.map(_.mkString("").stripSuffix(Bpe.EndOfWord))
    assert(rebuilt == Seq("newest", "lowest"))
  }

  test("native segment kernel is bit-identical to the declarative fold") {
    // the kernel (BpeSegmentExpr) replaces the chained-aggregate fold in
    // the operator surface; pin them against each other on real corpus
    // text (unicode, punctuation, odd whitespace) plus crafted edges
    val docs = sf("documents")
      .select("text").limit(200)
      .union(Seq("", "  ", "a", "aaaa aaaa", "\tlead tab", "π señor 𝄞clef",
        "low lower newest").toDF("text"))
    val merges = Seq("e" -> "s", "es" -> "t", "est" -> Bpe.EndOfWord,
      "l" -> "o", "a" -> "a", "aa" -> "aa")
    val diff = docs.select(
        Bpe.segment(col("text"), merges).as("k"),
        Bpe.segmentFold(col("text"), merges).as("f"))
      .filter(not(col("k") <=> col("f")))
    assert(diff.count() == 0)
  }

  test("segment kernel handles a long merge list the fold cannot") {
    // 200 merges in one kernel call — constant generated-code size
    val merges = (0 until 200).map(i => (s"x$i", s"y$i")) :+ ("l" -> "o")
    val out = Seq("low").toDF("text")
      .select(Bpe.segment(col("text"), merges).as("p"))
      .as[Seq[Seq[String]]].collect()(0)
    assert(out == Seq(Seq("lo", "w", Bpe.EndOfWord)))
  }

  test("pairCounts round-1 statistics match hand counts") {
    val m = Bpe.pairCounts(Bpe.initialVocab(sennrich, "text"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(m(("e", "s")) == 9L) // newest(6) + widest(3)
    assert(m(("l", "o")) == 7L) // low(5) + lower(2)
    assert(m(("w", "</w>")) == 5L) // low(5)
  }

  test("vocabulary ids are consecutive, deterministic, and unk-first") {
    val merges = Bpe.trainMerges(sennrich, "text", numMerges = 4)
      .orderBy("rank").select("left", "right").as[(String, String)].collect().toSeq
    val v = Bpe.vocabulary(sennrich, "text", merges).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(v.head == (0, "<unk>"))
    assert(v.map(_._1) == v.indices)             // consecutive ids
    val base = v.tail.dropRight(merges.length).map(_._2)
    assert(base == base.sorted)                   // base symbols lexicographic
    assert(v.takeRight(merges.length).map(_._2) ==
      merges.map { case (a, b) => a + b })        // merges in rank order
    val v2 = Bpe.vocabulary(sennrich, "text", merges).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(v == v2)                               // deterministic rebuild
  }

  test("encode ids invert to segment pieces through the vocabulary") {
    val merges = Bpe.trainMerges(sennrich, "text", numMerges = 4)
      .orderBy("rank").select("left", "right").as[(String, String)].collect().toSeq
    val vocab = Bpe.vocabulary(sennrich, "text", merges).orderBy("id")
      .as[(Int, String)].collect().map(_._2).toSeq
    val df = Seq((1L, "newest lowest"), (2L, ""), (3L, "low")).toDF("id", "text")
    val got = df.orderBy("id").select(
        Bpe.encode(col("text"), merges, vocab).as("ids"),
        flatten(Bpe.segment(col("text"), merges)).as("pieces"))
      .as[(Seq[Int], Seq[String])].collect()
    got.foreach { case (ids, pieces) =>
      assert(ids.length == pieces.length)
      assert(ids.map(vocab) == pieces)            // decode(encode) == segment
      assert(ids.forall(i => i > 0 && i < vocab.length)) // no unks in-corpus
    }
    // out-of-vocabulary characters encode as id 0
    val unk = Seq("zzz \u4e2d").toDF("text")
      .select(Bpe.encode(col("text"), merges, vocab).as("ids"))
      .as[Seq[Int]].collect()(0)
    assert(unk.contains(0))
  }
}
