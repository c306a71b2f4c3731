package graft

import org.apache.spark.sql.functions._
import graft.plans.{Graft, SimplifyWarpCoercion}
import graft.values.Warp

/** Catalyst extension tests on the shared session, which
  * [[LocalSession]] builds with [[graft.plans.WarpExtensions]]: coercion
  * simplification restores pushdown; native kernels reachable from SQL. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("the coercion rule runs once, inside the operator-optimization batch") {
    def inBatch = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .count(_ == SimplifyWarpCoercion)
    assert(inBatch == 1)
    Graft.install(spark) // a session built with the extensions keeps its one copy
    assert(inBatch == 1)
    assert(!spark.experimental.extraOptimizations.contains(SimplifyWarpCoercion))
  }

  test("SimplifyWarpCoercion rewrites warp_num over numerics to a cast") {
    val df = Seq(1.5, 2.5).toDF("v")
    val plan = df.filter(Warp.num(col("v")) > 2.0).queryExecution.optimizedPlan.toString
    assert(!plan.contains("warp_num"), plan) // rewritten away
    // string children keep the kernel (the parse IS the semantics)
    val s = Seq("1", "x").toDF("v")
    val plan2 = s.select(Warp.num(col("v"))).queryExecution.optimizedPlan.toString
    assert(plan2.contains("warp_num"), plan2)
  }

  test("coercion filter reaches the parquet scan as a pushed predicate") {
    // full pushdown needs the rule INSIDE the operator-optimization batch
    // (before V2ScanRelationPushDown) — i.e. the SparkSessionExtensions
    // path, not experimental.extraOptimizations which runs after pushdown
    val dir = tempDir("pushdown")
    Seq(1.0, 5.0, 9.0).toDF("v").write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(Warp.num(col("v")) > 4.0)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,4.0)]"), physical)
    assert(q.count() == 2)
  }

  test("native kernels callable from SQL after install") {
    Seq((1L, "the quick brown fox")).toDF("id", "text")
      .createOrReplaceTempView("sqldocs")
    val r = spark.sql(
      """SELECT warp_num('13') AS n, simhash64(text) AS sig,
                size(shingle_hashes(text, 2)) AS nsh,
                size(minhash_sig(shingle_hashes(text, 2), 8)) AS k
         FROM sqldocs""").collect()(0)
    assert(r.getAs[Double]("n") == 13.0)
    assert(r.getAs[Long]("sig") != 0L)
    assert(r.getAs[Int]("nsh") == 3) // 4 words -> 3 bigram shingles
    assert(r.getAs[Int]("k") == 8)
    val v = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                bits_hamming(array(0L), array(7L)) AS h""").collect()(0)
    assert(v.getAs[Double]("d") == 11.0)
    assert(v.getAs[Int]("h") == 3)
    // text kernels: pii_scan struct fields, lang_scores six-profile array
    val t = spark.sql(
      """SELECT pii_scan('mail me at a@b.com or 1.2.3.4').emails AS e,
                pii_scan('mail me at a@b.com or 1.2.3.4').ips AS i,
                lang_scores('the cat of the house') AS ls""").collect()(0)
    assert(t.getAs[Long]("e") == 1L && t.getAs[Long]("i") == 1L)
    val ls = t.getAs[scala.collection.Seq[Double]]("ls")
    assert(ls.length == 6)
    assert(ls.head == 0.6) // en: "the","of","the" of 5 tokens
    assert(ls.head == ls.max) // en profile is index 0 and wins
  }

  test("vec_cosine: one call, folds over literals, matches the Scala path") {
    val c = spark.sql(
      """SELECT vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same,
                vec_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth,
                vec_cosine(array(3.0D, 4.0D), array(6.0D, 8.0D)) AS par""").collect()(0)
    assert(math.abs(c.getAs[Double]("same") - 1.0) < 1e-12)
    assert(math.abs(c.getAs[Double]("orth")) < 1e-12)
    assert(math.abs(c.getAs[Double]("par") - 1.0) < 1e-12)
    // fold contract: literal-vs-literal cosine is computed ONCE at
    // optimization time — probe plans rely on the query-norm folding
    val folded = spark.sql(
      "SELECT vec_cosine(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS c")
      .queryExecution.optimizedPlan.toString
    assert(!folded.contains("vec_dot"), folded)
    // column-vs-literal matches Similarity.cosine bit-for-bit (same kernel,
    // same fold order, same divide semantics)
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    df.createOrReplaceTempView("cosdocs")
    val sqlRes = spark.sql(
      "SELECT vec_cosine(v, array(0.5D, -1.0D, 2.0D)) AS c FROM cosdocs")
      .collect()(0).getAs[Double]("c")
    val scalaRes = df.select(graft.pipeline.Similarity.cosine(col("v"),
      typedLit(Seq(0.5, -1.0, 2.0))).as("c")).collect()(0).getAs[Double]("c")
    assert(sqlRes == scalaRes)
    // arity error is readable
    val e = intercept[Exception] {
      spark.sql("SELECT vec_cosine(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("exactly 2 argument"), e.getMessage)
  }

  test("unicode kernels callable from SQL: normalize + mojibake repair") {
    val r = spark.sql(
      "SELECT nfc_normalize('é') AS n, nfkc_normalize('ﬁ') AS k, " +
        "fix_mojibake('Ã©') AS f, fix_mojibake('café') AS keep")
      .collect()(0)
    assert(r.getAs[String]("n") == "é")    // e + combining acute -> é
    assert(r.getAs[String]("k") == "fi")        // ﬁ ligature folds under NFKC
    assert(r.getAs[String]("f") == "é")    // Ã© -> é
    assert(r.getAs[String]("keep") == "café") // legit accent untouched
  }

  test("kernel misuse fails at analysis with a readable message") {
    Seq((1L, "txt")).toDF("id", "text").createOrReplaceTempView("sqldocs2")
    // quoted numerals still work (pre-existing lenient behavior)
    val lenient = spark.sql(
      "SELECT size(shingle_hashes(text, '1')) AS n FROM sqldocs2").collect()(0)
    assert(lenient.getAs[Int]("n") == 1)
    // non-literal size argument: rejected when the function is built
    val e1 = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(text, id) FROM sqldocs2").collect()
    }
    assert(e1.getMessage.contains("literal integer"), e1.getMessage)
    // wrong child type: analysis error from checkInputDataTypes, not a
    // ClassCastException inside generated code
    val e2 = intercept[Exception] {
      spark.sql("SELECT simhash64(id) FROM sqldocs2").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("requires string"), e2.getMessage)
    // wrong arity on the vector kernels: readable builder error, not an
    // IndexOutOfBoundsException
    val e3 = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0D)) FROM sqldocs2").collect()
    }
    assert(e3.getMessage.contains("exactly 2 argument"), e3.getMessage)
  }
}
