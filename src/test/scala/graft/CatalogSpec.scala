package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Catalog, NoOracle, Q, Sql}

/** Declaration checks over the catalog domains; runs no Spark query. */
class CatalogSpec extends AnyFunSuite {

  private val all = Catalog.all

  test("query names are unique across all catalog domains") {
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(repeated.isEmpty, s"repeated query names: $repeated")
  }

  test("271 queries, 255 of them with a DuckDB oracle") {
    assert(all.size == 271)
    assert(all.count(_.oracle.isInstanceOf[Sql]) == 255)
    assert(SparkEntry.queries.keySet == all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.size == 255)
  }

  test("NoOracle covers exactly the 16 rows-only queries, each with a reason") {
    val rowsOnly = all.collect { case Q(name, _, NoOracle(reason), _) => name -> reason }.toMap
    assert(rowsOnly.keySet == Set(
      "q_random", "q_dedup_minhash", "q_dedup_incr_near", "q_dedup_simhash",
      "q_distinct_sketch", "q_embed_pq", "q_embed_ivfpq", "q_embed_band_ivf",
      "q_dedup_embed", "q_embed_lsh", "q_embed_knn_lsh", "q_embed_lsh_batch",
      "q_embed_ivf", "q_embed_ivf_batch", "q_image_dhash", "q_audio_fp"))
    assert(rowsOnly.values.forall(_.trim.nonEmpty))
  }
}
