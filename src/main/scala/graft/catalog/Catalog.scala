package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: `run` on a data directory of the sf tables, declared
  * beside the DuckDB oracle it is checked against, or beside the reason it
  * has none.
  *
  * Float discipline: double sums are accumulated as decimal(28,6) and cast
  * back to double (`WarpAggregates.dsum`/`davg`), so Spark's
  * partial-aggregation order and DuckDB's scan order produce bit-identical
  * results (exact decimal addition is associative; the per-row
  * double->decimal rounding is deterministic in both engines). Row-level
  * double arithmetic (a*b etc.) is IEEE-identical everywhere and needs no
  * care.
  */
final case class Q(name: String, run: (SparkSession, String) => DataFrame,
                   oracle: Oracle, tags: Set[String] = Set.empty)

sealed trait Oracle
/** DuckDB SQL over the same parquet tables; its rows must hash-match. */
final case class Sql(text: String) extends Oracle
/** Rows-only check: the output cannot be replayed in DuckDB. */
final case class NoOracle(reason: String) extends Oracle

/** Every catalog domain: one query per implemented operator from
  * SURVEY.md §2. */
object Catalog {

  /** Tag of a deliberate oracle red that the type lint must flag. */
  val Canary = "canary"

  lazy val all: Seq[Q] =
    Relational.queries ++ Statistics.queries ++ Functions.queries ++
      Sources.queries ++ Duplicates.queries ++ Text.queries ++
      Curation.queries ++ Embeddings.queries ++ Clustering.queries ++
      Graphs.queries ++ Streaming.queries ++ Media.queries ++ Diag.queries
}
