package graft

import org.apache.spark.sql.functions._

/** Phase profile for q_dedup_fuzzy at scale (VERDICT r14 item 4): where
  * does the PassJoin pipeline spend its wall — candidate generation (the
  * (t,i,segment)-block explode + hash join + pair dedup) or the
  * thresholded-levenshtein verify? Replicates fuzzyPairs' stages with a
  * noop sink per phase. Run:
  *   SPARK_DRIVER_MEM=24g SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 \
  *     sbt "Test/runMain graft.FuzzyProfile"
  */
object FuzzyProfile {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val d = 4; val k = d + 1
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-30s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    for (round <- 1 to 3; mma <- Seq(false, true)) {
      println(s"--- fuzzy round $round multiMatchAware=$mma")
      val keyed = catalog.Shared.T(spark, dir, "documents")
        .select(col("doc_id").as("id"), substring(col("text"), 1, 48).as("k"),
          length(substring(col("text"), 1, 48)).as("len"))
      def segLen(t: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        floor(t / k).cast("int") + when(i < t % k, 1).otherwise(0)
      def segStart(t: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        (i * floor(t / k).cast("int") + least(i, t % k)).cast("int")
      val parts = keyed.filter(col("len") >= k).select(col("id"), col("len"),
          explode(transform(sequence(lit(0), lit(d)), i =>
            struct(col("len").as("t"), i.as("i"),
              col("k").substr(segStart(col("len"), i) + 1,
                segLen(col("len"), i)).as("s")))).as("blk"))
        .select(col("id").as("pid"), col("len").as("plen"),
          xxhash64(col("blk.t"), col("blk.i"), col("blk.s")).as("__bh"))
      val m = length(col("k"))
      val probes = keyed.filter(col("len") >= 1).select(col("id"), col("len"),
          explode(flatten(flatten(transform(
            sequence(greatest(col("len"), lit(k)), col("len") + d), t =>
              transform(sequence(lit(0), lit(d)), i => {
                val sl = segLen(t, i); val ss = segStart(t, i)
                val dlt = col("len") - t
                val lo =
                  if (mma) greatest(ss + greatest(-i, dlt - (lit(d) - i)), lit(0))
                  else greatest(ss - d, lit(0))
                val hi =
                  if (mma) least(ss + least(i, dlt + (lit(d) - i)), m - sl)
                  else least(ss + d, m - sl)
                when(hi >= lo, transform(sequence(lo, hi), p =>
                  struct(t.as("t"), i.as("i"), col("k").substr(p + 1, sl).as("s"))))
                  .otherwise(array().cast("array<struct<t:int,i:int,s:string>>"))
              }))))).as("blk"))
        .select(col("id").as("qid"), col("len").as("qlen"),
          xxhash64(col("blk.t"), col("blk.i"), col("blk.s")).as("__bh"))
      val role = col("plen") > col("qlen") ||
        (col("plen") === col("qlen") && col("pid") < col("qid"))
      val candPairs = parts.join(probes, Seq("__bh"))
        .filter(role)
        .select(least(col("pid"), col("qid")).as("id1"),
          greatest(col("pid"), col("qid")).as("id2"))
        .dropDuplicates("id1", "id2")
      time("explode sides (noop both)") {
        parts.write.mode("overwrite").format("noop").save()
        probes.write.mode("overwrite").format("noop").save()
      }
      val cp = time("candidates (join+dedup)") {
        val c = candPairs.localCheckpoint(true); println(s"  cand rows=${c.count()}"); c
      }
      time("verify (re-attach+leven)") {
        val cands = cp
          .join(keyed.select(col("id").as("id1"), col("k").as("k1")), "id1")
          .join(keyed.select(col("id").as("id2"), col("k").as("k2")), "id2")
        val dist = levenshtein(col("k1"), col("k2"), d)
        cands.filter(dist >= 0)
          .select(col("id1"), col("id2"), dist.as("dist"))
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
