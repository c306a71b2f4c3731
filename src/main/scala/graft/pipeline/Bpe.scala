package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING as a Spark pipeline operator
  * (Sennrich et al. 2016's algorithm, re-shaped for a distributed corpus).
  *
  * The pivotal scale observation: after the first word-count aggregate,
  * everything operates on the VOCABULARY table (distinct words with
  * counts), never the corpus again. At 100 TB the corpus pass is one
  * map-side-combined aggregate; the merge loop then iterates over a
  * table that is vocabulary-sized (millions of rows, not billions), with
  * one bounded 1-row collect per merge — the driver holds the merge
  * list, never any data.
  *
  * Determinism: the winning pair each round is (count DESC, left ASC,
  * right ASC) — byte-identical merge lists on every engine and every
  * rerun, the property that makes a trained tokenizer shippable.
  *
  * Symbol inventory: characters, with the Sennrich end-of-word marker
  * `</w>` as a distinct final symbol, so merges distinguish "er" inside
  * a word from "er" at word end.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Greedy left-to-right application of ONE merge (a, b) -> a+b to a
    * symbol array — the standard non-overlapping replacement: a fold
    * that merges the current symbol into the accumulator tail when the
    * tail ends with `a` and the symbol is `b`. ("aaaa" under (a,a)
    * becomes [aa, aa], matching reference BPE.) */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Word vocabulary with counts and initial character symbols. */
  def initialVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        concat(filter(split(col("w"), ""), c => c =!= lit("")),
          array(lit(EndOfWord))).as("syms"))

  /** Adjacent-pair frequencies over the current symbol table. Public so
    * the round-1 pair statistics (a pure two-aggregate plan) can be
    * oracle-checked independently of the iterative trainer. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"),
        explode(arrays_zip(
          slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
          slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0)))))
          .as("p"))
      .select(col("cnt"), col("p.0").as("l"), col("p.1").as("r"))
      .groupBy("l", "r").agg(sum(col("cnt")).as("pair_count"))

  /** Train `numMerges` BPE merges; stop early when the best pair's count
    * drops below `minCount`. Returns the ordered merge table
    * (rank, left, right, merged, pair_count).
    *
    * Scale shape: ONE corpus aggregate (map-side combine on the word
    * hash), then per merge: one vocabulary-sized pair aggregate, a 1-row
    * TakeOrdered collect (the winner), and a map-only fold applying the
    * merge. The vocabulary is pinned each round (the previous round
    * dropped) so lineage and re-execution stay flat across merges. */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int,
                  minCount: Long = 2): DataFrame =
    Materialize(df.sparkSession) { m =>
    require(numMerges > 0, s"numMerges must be > 0, got $numMerges")
    val spark = df.sparkSession
    var vocab = m.pin(initialVocab(df, textCol))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var done = false
    for (rank <- 1 to numMerges if !done) {
      val top = pairCounts(vocab)
        .orderBy(col("pair_count").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("pair_count") < minCount) done = true
      else {
        val l = top(0).getAs[String]("l"); val r = top(0).getAs[String]("r")
        merges += ((rank, l, r, l + r, top(0).getAs[Long]("pair_count")))
        val next = m.pin(vocab.select(col("cnt"),
          applyMerge(col("syms"), l, r).as("syms")))
        m.drop(vocab)
        vocab = next
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Segment text with a TRAINED merge list: per word, start from
    * characters + `</w>` and apply each merge in rank order — the
    * inference half of the tokenizer, ONE native kernel call per
    * document ([[graft.functions.BpeSegmentExpr]]): constant generated-
    * code size at any merge-list length, O(merges·word) tight in-place
    * passes, a pure map pass inside whole-stage codegen at 100 TB. */
  def segment(textCol: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    C(graft.functions.BpeSegmentExpr(E(textCol), merges))
  }

  /** The deterministic id vocabulary of a trained tokenizer:
    * id 0 = `<unk>`, then the corpus' base symbols (distinct initial
    * characters + `</w>`) in lexicographic order, then the merged symbols
    * in rank order. One vocabulary-table aggregate; the result is the
    * second half of the shippable artifact (merges + vocab). A merged
    * string that collides with an earlier entry (e.g. two merge paths
    * producing the same surface form) keeps the earlier id — the encoder
    * maps by first occurrence. */
  def vocabulary(df: DataFrame, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // bounded driver collect by contract: the distinct-character
    // inventory of a corpus is bounded by Unicode (~1M worst case), like
    // the dummies label set — not corpus-sized
    val base = initialVocab(df, textCol)
      .select(explode(col("syms")).as("token")).distinct()
      .orderBy("token").collect().map(_.getString(0))
    val toks = ("<unk>" +: base.toSeq) ++ merges.map { case (a, b) => a + b }
    val seen = scala.collection.mutable.HashSet[String]()
    // dedup BEFORE numbering: ids stay consecutive and equal to the
    // position in the collected token list, which is exactly the Seq
    // contract `encode` indexes by
    toks.filter(seen.add).zipWithIndex.map(_.swap).toDF("id", "token")
  }

  /** Segment + encode to vocabulary ids in ONE kernel call per document
    * ([[graft.functions.BpeEncodeExpr]]): `array<int>` flattened across
    * words, unknown symbols -> id 0. `vocab` is the token list indexed by
    * id ([[vocabulary]] ordered by id) — frozen into the plan alongside
    * the merges, so encoding stays a pure map pass at 100 TB. */
  def encode(textCol: Column, merges: Seq[(String, String)],
             vocab: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
    C(graft.functions.BpeEncodeExpr(E(textCol), merges, vocab))
  }

  /** The declarative formulation of [[segment]] — one chained
    * `aggregate` fold per merge. Interpreted (ArrayAggregate is
    * CodegenFallback) and generated-code-linear in the merge count, so
    * the kernel replaces it in the operator surface; kept as the
    * independent differential oracle the kernel is pinned against in
    * BpeSpec. */
  private[graft] def segmentFold(textCol: Column,
                                 merges: Seq[(String, String)]): Column = {
    val words = TextAnalysis.tokens(textCol)
    transform(words, w => {
      val init = concat(filter(split(w, ""), c => c =!= lit("")),
        array(lit(EndOfWord)))
      merges.foldLeft(init) { case (acc, (a, b)) => applyMerge(acc, a, b) }
    })
  }
}
