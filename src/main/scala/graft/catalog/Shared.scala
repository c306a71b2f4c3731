package graft
package catalog

import java.lang.ref.SoftReference
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import graft.ops.WarpOps._
import graft.pipeline.Materialize

/** Helpers used by more than one catalog domain. */
private[graft] object Shared {

  /** Table `name` of the data directory `dir`. A table file is resolved
    * (listed, footer-read for its schema) once per session and version;
    * every call returns a fresh plan over that relation, with its own
    * expression ids, so self-joins and `df("col")` resolve as with
    * `read.parquet`. A directory may gain files, so it is never cached. */
  def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = scala.util.Try(stamp(s, path)).toOption.filterNot(_.isDir) match {
      case Some(file) =>
        s.baseRelationToDataFrame(resolved(s, Opened(file, SchemaConfs.map(s.conf.getOption))))
      // a directory, or a path Spark itself must report (missing, glob)
      case None => s.read.parquet(path)
    }
    // events.ts is nanosecond-precision parquet, which Spark only reads via
    // spark.sql.legacy.parquet.nanosAsLong (set by every LocalSession).
    // Normalize to a naive microsecond timestamp; `DIV` keeps the integer
    // math exact (a double division would lose precision on int64 nanos).
    df.schema.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case None    => df
    }
  }

  /** The session confs parquet schema inference reads. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** A file's qualified path, kind and (mtime, length). */
  private case class Stamp(path: String, isDir: Boolean, mtime: Long, length: Long)

  private def stamp(s: SparkSession, path: String): Stamp = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    Stamp(fs.makeQualified(p).toString, st.isDirectory, st.getModificationTime, st.getLen)
  }

  /** One version of a table file, read under one set of [[SchemaConfs]]. */
  private case class Opened(file: Stamp, confs: Seq[Option[String]])

  /** The relations [[T]] resolved, per session, one version per path. A
    * relation holds its session, so the map is held softly: a strong value
    * would keep the weak key reachable and a dropped session alive. */
  private val opened =
    new java.util.WeakHashMap[SparkSession, SoftReference[Map[Opened, BaseRelation]]]()

  private def resolved(s: SparkSession, key: Opened): BaseRelation = {
    def tables = Option(opened.get(s)).flatMap(r => Option(r.get)).getOrElse(Map.empty[Opened, BaseRelation])
    opened.synchronized(tables.get(key)).getOrElse {
      // resolved outside the lock: a footer read runs a Spark job
      val rel = s.read.parquet(key.file.path).queryExecution.analyzed
        .collectFirst { case l: LogicalRelation => l.relation }.get
      opened.synchronized {
        opened.put(s, new SoftReference(tables.filter(_._1.file.path != key.file.path) + (key -> rel)))
      }
      rel
    }
  }

  /** `build` once per session, fixture `name` and version of table `table`
    * of `dir` (its [[Stamp]], as [[T]] keys it). */
  def fixture[A](s: SparkSession, dir: String, table: String, name: String)(build: => A): A =
    Materialize.session(s).memo(name, stamp(s, s"$dir/$table.parquet"))(build)

  /** A [[fixture]] directory: a fresh dir under the session's run root,
    * filled once by `write` and kept until the session ends. */
  def fixtureDir(s: SparkSession, dir: String, table: String, name: String)(
      write: String => Unit): String =
    fixture(s, dir, table, name) {
      val out = Materialize.session(s).tempDir(name)
      write(out)
      out
    }

  /** Deterministic duplicate-pair fixture for the connected-components
    * queries: doc i ~ doc i+1 whenever both exist and i % 10 < 9 — 10-node
    * chains, reproducible in SQL (no hash seeds involved). */
  def chainEdges(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      .where(col("doc_id") % 10 < 9)
      .join(docs.select(col("doc_id").as("id2")), Seq("id2"), "left_semi")

  /** A double constant for oracle SQL, parse-exact: Scala's shortest
    * round-trip repr, parsed via VARCHAR so DuckDB cannot route it through
    * a decimal literal (which would double-round non-representable values
    * like `k1+1.0 = 2.2000000000000002`). */
  def dlit(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** Shared WITH-prefix for the k-means-replay oracles: `e` (vectors +
    * norms), `c0..c$iters` (centroid rounds), `afin` (final assignment
    * with vec_id, v, cl, d). */
  def kmeansCtes(k: Int, iters: Int): String =
    "WITH " + kmeansCtesFor(k, iters, "embedding", "", "e", "c", "a", "m", "afin")

  /** The kmeans CTE chain over an arbitrary vector EXPRESSION (e.g. a
    * sub-vector slice for PQ codebooks), with prefixed CTE names so
    * several chains compose in one WITH. Emits `<eName>`,
    * `<cPrefix>0..<cPrefix>iters`, per-round assigns/means, and the final
    * assignment CTE `<finName>(vec_id, v, cl, d)`. */
  def kmeansCtesFor(k: Int, iters: Int, vecExpr: String,
                            suffix: String, eName: String, cPrefix: String,
                            aPrefix: String, mPrefix: String,
                            finName: String): String = {
    val dotVC = s"list_reduce(list_transform(list_zip(e.v, c.c), " +
      "p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, w) -> acc + w)"
    val c2 = "list_reduce(list_transform(c.c, x -> x * x), (acc, w) -> acc + w)"
    def assignCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         SELECT vec_id, v, cl, d FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn FROM (
             SELECT e.vec_id, e.v, c.cl, e.n2 + $c2 - 2.0 * $dotVC AS d
             FROM $eName e, $cents c))
         WHERE rn = 1)"""
    val rounds = (0 until iters).map { r =>
      s"""${assignCte(s"$aPrefix$r", s"$cPrefix$r")},
       $mPrefix$r AS MATERIALIZED (
         SELECT cl, i,
           CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mu
         FROM (SELECT cl, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM $aPrefix$r)
         GROUP BY cl, i),
       $cPrefix${r + 1} AS MATERIALIZED (
         SELECT p.cl,
           CASE WHEN count(m.mu) = 0 THEN any_value(p.c)
                ELSE list(m.mu ORDER BY m.i) END AS c
         FROM $cPrefix$r p LEFT JOIN $mPrefix$r m ON p.cl = m.cl
         GROUP BY p.cl)"""
    }.mkString(",\n")
    s"""$eName AS MATERIALIZED (
         SELECT vec_id, $vecExpr AS v,
           list_reduce(list_transform($vecExpr,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, w) -> acc + w) AS n2
         FROM embeddings$suffix),
       ${cPrefix}0 AS MATERIALIZED (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
           list_transform(v0, x -> CAST(x AS DOUBLE)) AS c
         FROM (SELECT vec_id, $vecExpr AS v0 FROM embeddings$suffix
               ORDER BY vec_id LIMIT $k)),
       $rounds,
       ${assignCte(finName, s"$cPrefix$iters")}"""
  }

  /** Shared bipartite md5-tier LSH replay: `dCte` yields
    * (side 'h'|'n', doc_id, text); new-side docs band-match against the
    * capped history side, candidates verify exact Jaccard. */
  def bipartiteMd5Oracle(dCte: String, numHashes: Int, bands: Int,
                                 threshold: Double, maxBucket: Int): String = {
    val r = numHashes / bands
    val sigs = (0 until numHashes).map { i =>
      s"""list_min(list_transform(s, x ->
         CAST(('0x' || substr(md5('$i:' || x), 1, 15)) AS BIGINT))) AS sig$i"""
    }.mkString(",\n           ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until r).map(j => s"CAST(sig${b * r + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT side, doc_id, $b AS band, $key AS key FROM sg"
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH d AS (
           $dCte
         ), w AS (
           SELECT side, doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') AS ws FROM d
         ), sh AS (
           SELECT side, doc_id,
             CASE WHEN len(ws) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                      i -> array_to_string(ws[i:i+2], ' ')))
               ELSE list_distinct([array_to_string(ws, ' ')]) END AS s
           FROM w
         ), f AS (SELECT side, doc_id, s FROM sh WHERE len(s) > 0),
         sg AS (SELECT side, doc_id, s,
           $sigs
           FROM f),
         bd0 AS (
           $bandSelects
         ), bd AS (
           -- mirror nearDupScreenStreamMd5's STATIC-side bucket cap
           -- (maxBucket=$maxBucket, smallest hist ids win): without this
           -- the Spark stream and the oracle diverge silently on any
           -- band bucket larger than the cap
           SELECT side, doc_id, band, key FROM (
             SELECT side, doc_id, band, key,
               row_number() OVER (PARTITION BY band, key, side
                 ORDER BY doc_id) AS rn
             FROM bd0)
           WHERE side = 'n' OR rn <= $maxBucket
         ), cand AS (
           SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS hist_id
           FROM bd a JOIN bd b ON a.band = b.band AND a.key = b.key
           WHERE a.side = 'n' AND b.side = 'h'
         ), v AS (
           SELECT c.new_id, c.hist_id,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) AS inter,
             CAST(len(x.s) + len(y.s) AS DOUBLE)
               - CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) AS uni
           FROM cand c JOIN f x ON x.side = 'n' AND x.doc_id = c.new_id
             JOIN f y ON y.side = 'h' AND y.doc_id = c.hist_id
         )
         SELECT new_id, hist_id,
           round(CASE WHEN uni = 0.0 THEN 1.0 ELSE inter / uni END, 9) AS jaccard
         FROM v
         WHERE (CASE WHEN uni = 0.0 THEN 1.0 ELSE inter / uni END) >= $threshold
         ORDER BY new_id, hist_id"""
  }

  /** r12 twin of [[charClassCte]] with NO `lower()` anywhere: letters are
    * the explicit ranges 65-90 and 97-122 on the ORIGINAL text, so neither
    * engine's case-mapping tables (DuckDB utf8proc `lower`, Spark
    * `UTF8String.toLowerCase` + JVM locale) are on the production path.
    * Pairs with the caseless [[graft.functions.ClassCountsExpr]] kernel
    * (same classification, same run lambdas). */
  val charClassCteNoLower: String =
    """cls AS (
         SELECT source, lang, doc_id,
           list_transform(string_split(text, ''),
             -- unicode('') = -1: string_split('','') yields [''], which
             -- must classify as a non-token (class 's'), not 'other'
             c -> CASE WHEN unicode(c) < 0 THEN 's'
                       WHEN (unicode(c) BETWEEN 97 AND 122)
                         OR (unicode(c) BETWEEN 65 AND 90) THEN 'a'
                       WHEN unicode(c) BETWEEN 48 AND 57 THEN 'd'
                       WHEN unicode(c) IN (9,10,11,12,13,32) THEN 's'
                       ELSE 'o' END) AS cl
         FROM documents),
       cnt AS (
         SELECT source, lang, doc_id,
           CAST(len(list_filter(cl, (x,i) -> x <> 's' AND (i = 1 OR cl[i-1] = 's'))) AS BIGINT) AS ws,
           CAST(len(list_filter(cl, (x,i) -> x = 'a' AND (i = 1 OR cl[i-1] <> 'a')))
              + len(list_filter(cl, (x,i) -> x = 'd' AND (i = 1 OR cl[i-1] <> 'd')))
              + len(list_filter(cl, x -> x = 'o')) AS BIGINT) AS bpe
         FROM cls)"""

  /** The same integer-derived 9-decimal ratio presented as DOUBLE — the
    * DuckDB twin of [[graft.pipeline.TextAnalysis.ratioDouble9]] (r15:
    * every scale-9 DECIMAL output column is driver-hash red, int64- and
    * int128-backed alike; DOUBLE is the proven-green tier). The HUGEINT
    * e9 is exact, its DOUBLE cast is exact for e9 < 2^53, and `/ 1e9` is
    * the identical correctly-rounded binary64 division Spark performs.
    *
    * Precondition: `num >= 0`. DuckDB's `//` floors while Spark's integral
    * divide truncates toward zero, so the twins agree only for a
    * non-negative numerator (every caller passes a count). */
  def dbl9Sql(num: String, den: String): String =
    s"""CASE WHEN $den > 0
          THEN CAST((CAST($num AS HUGEINT) * 2000000000 + $den) // (CAST($den AS HUGEINT) * 2) AS DOUBLE) / 1e9
          ELSE CAST(0 AS DOUBLE) END"""
}
