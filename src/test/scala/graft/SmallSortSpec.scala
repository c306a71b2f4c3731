package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import graft.plans.{Graft, SmallSort}

/** [[graft.plans.SmallSort]]: a global sort over a small input runs as one
  * sorted partition with no range exchange and no sampling job; larger
  * inputs keep the range sort; a top-k keeps its own plan. */
class SmallSortSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Runs `body` with `spark.sql.files.openCostInBytes` at `bytes`. */
  private def withOpenCost[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` over a small parquet table, one file in a temp dir that is
    * deleted after the test. */
  private def withTable[T](body: DataFrame => T): T = {
    val dir = tempDir("smallsort") + "/t"
    spark.range(0, 500).select(col("id"), (col("id") * 7919 % 101).as("k"))
      .coalesce(1).write.parquet(dir)
    body(spark.read.parquet(dir)) // resolved here: the footer job runs now
  }

  test("row order equals the Scala sort: ties, nulls, string/numeric collation, 5 input partitions") {
    val in = spark.range(0, 300, 1, 5).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 5).as("k"),
      (col("id") % 13).cast("string").as("s"))
    assert(in.rdd.getNumPartitions == 5)
    // warpSort: numeric keys sort as doubles (nulls first ascending),
    // string keys as strings ("9" > "12" > "10"), descending nulls last
    val sorted = in.warpSort(Seq(Order(col("k")), Order(col("s"), ascending = false, numeric = false),
      Order(col("id"))))
    assert(plan(sorted).contains("Coalesce 1"), plan(sorted))
    assert(!plan(sorted).contains("Exchange"), plan(sorted))
    val got = sorted.as[(Long, Option[Long], String)].collect().toSeq
    val expected = in.as[(Long, Option[Long], String)].collect().toSeq.sortBy { case (id, k, s) =>
      (k.map(_.toDouble), s, id)
    }(Ordering.Tuple3(Ordering.Option(Ordering.Double.TotalOrdering),
      Ordering.String.reverse, Ordering.Long))
    assert(got.map(_._2).distinct.size == 6 && got.exists(_._2.isEmpty)) // ties and nulls
    assert(got == expected)
  }

  test("a small scan -> sort starts one job and has no Exchange") { withTable { t =>
    val sorted = t.orderBy(col("k").desc, col("id"))
    assert(!plan(sorted).contains("Exchange"), plan(sorted))
    assert(plan(sorted).contains("Coalesce 1"), plan(sorted))
    var rows = Seq.empty[(Long, Long)]
    assert(jobsStarted { rows = sorted.as[(Long, Long)].collect().toSeq } == 1)
    assert(rows == rows.sortBy { case (id, k) => (-k, id) } && rows.size == 500)
  }}

  test("the same sort above openCostInBytes keeps the range sort") { withTable { t =>
    withOpenCost(1) {
      val sorted = t.orderBy(col("k").desc, col("id"))
      assert(plan(sorted).contains("rangepartitioning"), plan(sorted))
      assert(!plan(sorted).contains("Coalesce"), plan(sorted))
      val rows = sorted.as[(Long, Long)].collect().toSeq
      assert(rows == rows.sortBy { case (id, k) => (-k, id) } && rows.size == 500)
    }
  }}

  test("orderBy(..).limit(n) still plans TakeOrderedAndProject") { withTable { t =>
    val top = t.orderBy(col("k").desc, col("id")).limit(5)
    assert(plan(top).contains("TakeOrderedAndProject"), plan(top))
    assert(!plan(top).contains("Coalesce"), plan(top))
    assert(top.count() == 5)
  }}

  test("aggregate over a join: the runtime size replans the sort as one partition") {
    // the static estimate of an inner join is the product of its sides'
    // sizes, so the initial plan range-sorts; once the aggregate's shuffle
    // stage has materialized 7 rows, AQE replans with SmallSort
    val a = spark.range(0, 2000).toDF("a")
    val b = spark.range(0, 2000).toDF("b")
    val q = a.join(b, col("a") === col("b")).groupBy((col("a") % 7).as("g"))
      .agg(count(lit(1)).as("n")).orderBy(col("g").desc)
    assert(plan(q).contains("rangepartitioning"), plan(q))
    // collected through q itself, so q's own plan is the one executed
    assert(q.collect().toSeq.map(r => r.getLong(0) -> r.getLong(1)) ==
      (0L to 6L).reverse.map(g => g -> (0L until 2000L).count(_ % 7 == g).toLong))
    val finalPlan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => fail(s"not an adaptive plan: $p")
    }
    assert(!finalPlan.contains("rangepartitioning"), finalPlan)
    assert(finalPlan.contains("Coalesce 1"), finalPlan)
  }

  test("Graft.install twice leaves one SmallSort") {
    Graft.install(spark)
    Graft.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == SmallSort) == 1)
  }
}
