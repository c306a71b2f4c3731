package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental aggregate-view maintenance: keep a grouped aggregate
  * (counts + exact decimal sums) up to date from insert/delete deltas
  * WITHOUT recomputing the base table — the delta-processing shape a
  * 100 TB warehouse needs (re-aggregating the world per batch is the
  * anti-pattern; merging a delta aggregate is O(|delta| + |groups|)).
  *
  * The state is self-maintaining because count and sum are abelian-group
  * aggregates: deletions ride as weight −1, so merge = union + re-sum.
  * Groups whose count returns to zero drop out of the view (their sums
  * are exactly zero too — decimal arithmetic, no float residue).
  * Min/max are NOT maintainable this way (deletion of the current min
  * needs the base table); that is the documented boundary of
  * delta-maintainable views.
  */
object Incremental {

  /** State stays decimal, not dsum's double: deltas subtract, and only an
    * exact sum returns to zero when its group's rows are all deleted. */
  private val Dec = DecimalType(28, 6)

  /** Build the initial aggregate state: one row per key —
    * `cnt` (row count) and `sum_<col>` (exact decimal sum) per value
    * column. */
  def aggState(df: DataFrame, keyCols: Seq[String],
               valCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +:
      valCols.map(v => sum(col(s"`$v`").cast(Dec)).cast(Dec).as(s"sum_$v"))
    df.groupBy(keyCols.map(c => col(s"`$c`")): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge a delta batch into the state. `delta` carries the base-table
    * columns plus `weightCol` = +1 (insert) / −1 (delete); deleting a row
    * not present in the state is the caller's contract violation (the
    * view silently goes negative, exactly as a materialized view would).
    * Output schema equals [[aggState]]'s, so applications chain. */
  def applyDelta(state: DataFrame, delta: DataFrame, keyCols: Seq[String],
                 valCols: Seq[String], weightCol: String): DataFrame = {
    val w = col(s"`$weightCol`").cast("long")
    val dAggs = sum(w).as("cnt") +:
      valCols.map(v =>
        sum(col(s"`$v`").cast(Dec) * w.cast(Dec)).cast(Dec).as(s"sum_$v"))
    val d = delta.groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(dAggs.head, dAggs.tail: _*)
    val mAggs = sum(col("cnt")).as("cnt") +:
      valCols.map(v => sum(col(s"sum_$v")).cast(Dec).as(s"sum_$v"))
    state.unionByName(d)
      .groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(mAggs.head, mAggs.tail: _*)
      .filter(col("cnt") =!= 0L)
  }
}
