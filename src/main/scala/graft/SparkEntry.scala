package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{Catalog, Embeddings, Q, Sql}
import graft.plans.Graft

/** Driver contract, derived once from [[graft.catalog.Catalog]]: one
  * `queries` entry per implemented operator from SURVEY.md §2, each with
  * an equivalent DuckDB oracle in [[oracleSql]] unless the catalog
  * declares why it has none. Each entry first runs the idempotent
  * [[graft.plans.Graft.install]], so a session graft did not build gets
  * graft's planner strategy and rule too. */
object SparkEntry {

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      Graft.install(s)
      q.run(s, dir)
    }).toMap

  lazy val oracleSql: Map[String, String] =
    Catalog.all.collect { case Q(name, _, Sql(text), _) => name -> text }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end curation pipeline (quality + language scoring,
    * filter, fingerprint dedup, deterministic split) — the engine's
    * reason to exist in one plan. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_curate")(spark, "/root/testdata/sf0.001")

  /** Builds every persisted similarity index once; see
    * [[graft.catalog.Embeddings.prepareIndexes]]. */
  def prepareIndexes(s: SparkSession, dir: String): Unit =
    Embeddings.prepareIndexes(s, dir)

  val LshBits: Int = Embeddings.LshBits
  val LshMaxHamming: Int = Embeddings.LshMaxHamming
}
