package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Scratch phase profiler for q_dedup_ppjoin_screen: replicates
  * prefixJaccardCore's stages over the screen's sf0.1 inputs and times
  * each with a noop sink (guide §1.4) to locate the wall-clock. */
object ScreenProfile {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val probes0 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" probe trailing suffix")).as("text"),
          col("lang"), col("source"), col("n_chars")))
    val df = corpus.select(col("doc_id"), col("text"), lit(0).as("__side"))
      .unionByName(probes0.select(col("doc_id"), col("text"), lit(1).as("__side")))
    val threshold = 0.6

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    def noop(d: DataFrame): Unit =
      d.write.mode("overwrite").format("noop").save()

    for (round <- 1 to 2) {
      println(s"--- round $round")
      val toks = df.select(col("doc_id").as("id"),
          array_distinct(filter(split(trim(lower(col("text"))), "\\s+"),
            t => length(t) > 0)).as("__t"), col("__side").as("__sd"))
        .filter(size(col("__t")) > 0)
      val exploded = toks.select(col("id"), explode(col("__t")).as("__tok"))
      val freq = exploded.groupBy("__tok").agg(count(lit(1)).as("__df"))
      val vocab = freq.sort(col("__df"), col("__tok"))
        .select(col("__tok"), monotonically_increasing_id().as("__tid")).persist()
      val ordered = exploded.join(vocab, "__tok")
        .groupBy("id")
        .agg(sort_array(collect_list(col("__tid"))).as("__ord"))
      val sizedPlan = ordered
        .withColumn("__n", size(col("__ord")))
        .withColumn("__p",
          col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)).cast("int") + 1)
      val sized0 = sizedPlan.persist()
      time("A sized0 materialize")(noop(sized0))
      val sized = sized0.join(toks.select(col("id"), col("__sd")), "id")
      val pref = sized.select(col("id"), col("__n"),
        explode(slice(col("__ord"), lit(1), col("__p"))).as("__tok"), col("__sd"))
      val lenOk =
        col("__n2").cast("double") >= lit(threshold) * col("__n1") - lit(1e-9) &&
        col("__n1").cast("double") >= lit(threshold) * col("__n2") - lit(1e-9)
      val cand = pref.select(col("id").as("id1"), col("__n").as("__n1"),
          col("__tok"), col("__sd").as("__sd1"))
        .join(pref.select(col("id").as("id2"), col("__n").as("__n2"),
          col("__tok"), col("__sd").as("__sd2")), Seq("__tok"))
        .filter(col("id1") < col("id2") && lenOk && col("__sd1") =!= col("__sd2"))
        .select(col("id1"), col("id2"), col("__sd1"), col("__sd2"))
        .dropDuplicates("id1", "id2")
      val candP = cand.persist()
      time("B candidates + dedup")(noop(candP))
      println(s"    candidates: ${candP.count()}")
      println(candP.queryExecution.executedPlan.toString.take(4000))

      // variant B2: positional filter + broadcast right + repartitioned left
      val prefPos = sized.select(col("id"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), col("__p"))).as(Seq("__pos", "__tok")),
        col("__sd"))
      val alpha = ceil(lit(threshold / (1.0 + threshold)) *
        (col("__n1") + col("__n2")) - lit(1e-9))
      val posOk = lit(1) + least(col("__n1") - lit(1) - col("__pos1"),
        col("__n2") - lit(1) - col("__pos2")) >= alpha
      val left = prefPos.select(col("id").as("id1"), col("__n").as("__n1"),
          col("__pos").as("__pos1"), col("__tok"), col("__sd").as("__sd1"))
        .repartition(col("id1"))
      val right = prefPos.select(col("id").as("id2"), col("__n").as("__n2"),
          col("__pos").as("__pos2"), col("__tok"), col("__sd").as("__sd2"))
      val cand2 = left.join(broadcast(right), Seq("__tok"))
        .filter(col("id1") < col("id2") && lenOk && posOk &&
          col("__sd1") =!= col("__sd2"))
        .select(col("id1"), col("id2"), col("__sd1"), col("__sd2"))
        .dropDuplicates("id1", "id2")
      val cand2P = cand2.persist()
      time("B2 pos-filter+bcast+repart")(noop(cand2P))
      println(s"    candidates2: ${cand2P.count()}")
      cand2P.unpersist()
      val sets = sized0.select(col("id"), col("__ord"))
      val inter = {
        import org.apache.spark.sql.GraftColumnAccess.{column => C, expression => E}
        C(graft.functions.SortedLongIntersectCount(
          E(col("__s1")), E(col("__s2")))).cast("double")
      }
      val uni = (size(col("__s1")) + size(col("__s2"))).cast("double") - inter
      val result = candP
        .join(sets.select(col("id").as("id1"), col("__ord").as("__s1")), "id1")
        .join(sets.select(col("id").as("id2"), col("__ord").as("__s2")), "id2")
        .withColumn("jaccard", when(uni === 0.0, lit(1.0)).otherwise(inter / uni))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), col("jaccard"), col("__sd1"), col("__sd2"))
      time("C verify (no checkpoint)")(noop(result))
      val out = time("D verify + localCheckpoint")(result.localCheckpoint(true))
      val fin = out.select(
        when(col("__sd1") === 1, col("id1")).otherwise(col("id2")).as("probe_id"),
        when(col("__sd1") === 1, col("id2")).otherwise(col("id1")).as("corpus_id"),
        col("jaccard"))
        .orderBy("probe_id", "corpus_id")
      time("E final sort")(noop(fin))
      println(s"    pairs: ${out.count()}")
      candP.unpersist(); sized0.unpersist(); vocab.unpersist()
    }
    spark.stop()
  }
}
