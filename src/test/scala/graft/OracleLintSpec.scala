package graft

import java.nio.file.{Files, Paths}

/** Cross-engine result-TYPE gate for the oracle catalog (VERDICT r12
  * item 4, generalized per VERDICT r13 item 2).
  *
  * The r8-r13 corpus-statistics red family — six rounds of driver-red
  * rows on numerically identical values — was a result-REPRESENTATION
  * artifact with two members of one class:
  *
  *  - DuckDB widens an integer `sum()` to HUGEINT, which serializes as
  *    `decimal128(38,0)` on the driver's Arrow fetch path while Spark
  *    emits LONG (convicted r13 by the cast/uncast pair);
  *  - DECIMAL with precision > 18 is int128-backed in both engines
  *    (DuckDB HUGEINT storage, Spark parquet FIXED_LEN_BYTE_ARRAY) while
  *    precision <= 18 is int64-backed — the r13 residual reds were
  *    all-and-only the DECIMAL(20,9) output columns (convicted r14 by
  *    the dec_wide/dec_narrow pair).
  *
  * Both diverge with `rows_match: true, schema_match: true, hash_match:
  * false`. This spec makes the whole CLASS impossible to reintroduce: it
  * binds EVERY `SparkEntry.oracleSql` query in a real DuckDB (via the
  * driver-side python package, over views of the sf0.001 parquet tables)
  * and fails if any output column's DuckDB type is int128-backed —
  * HUGEINT, UHUGEINT, or DECIMAL with precision > 18 — or if any query
  * fails to bind at all.
  *
  * Self-test built in: `q_diag_dec_wide` is the DELIBERATELY-wide
  * conviction probe (its driver red + its narrow twin's green convict the
  * 128-bit repr by difference each round). The spec asserts the lint DOES
  * flag it — a planted wide decimal that went undetected would fail here,
  * so the detector itself is regression-gated.
  */
class OracleLintSpec extends SparkSpec {

  /** Queries allowed to emit an int128-backed output column: the catalog's
    * canaries (the deliberately-wide conviction probe). */
  private val canaries =
    graft.catalog.Catalog.all.filter(_.tags(graft.catalog.Catalog.Canary)).map(_.name).toSet

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val sfDir = "/root/testdata/sf0.001"

  private def pythonOk: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb").start()
      p.waitFor() == 0
    } catch { case _: Throwable => false }

  test("no oracle output column binds to an int128-backed type in DuckDB " +
    "(HUGEINT / UHUGEINT / DECIMAL precision > 18)") {
    assume(Files.isDirectory(Paths.get(sfDir)), s"$sfDir missing")
    assume(pythonOk, "python3+duckdb unavailable; driver environment has it")

    val dir = Paths.get(tempDir("oraclelint"))
    val sqlJson = dir.resolve("oracle_sql.json")
    Files.writeString(sqlJson, Verify.oracleJson())

    // Line protocol (no JSON parsing on the Scala side):
    //   BAD <tab> name <tab> column <tab> ducktype   — int128-backed output
    //   ERR <tab> name <tab> message                 — query failed to bind
    //   OK  <tab> n_checked
    val script =
      s"""import duckdb, json, re, sys
         |con = duckdb.connect()
         |for t in ${tables.map(t => s"'$t'").mkString("[", ",", "]")}:
         |    con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('$sfDir/%s.parquet')" % (t, t))
         |def int128_backed(t):
         |    u = str(t).upper()
         |    if 'HUGEINT' in u:
         |        return True
         |    m = re.match(r'DECIMAL\\((\\d+),', u)
         |    return bool(m) and int(m.group(1)) > 18
         |qs = json.load(open(sys.argv[1]))
         |n = 0
         |for name, q in sorted(qs.items()):
         |    try:
         |        rel = con.sql(q)
         |        for c, t in zip(rel.columns, rel.types):
         |            if int128_backed(t):
         |                print('BAD\\t%s\\t%s\\t%s' % (name, c, t))
         |        n += 1
         |    except Exception as e:
         |        print('ERR\\t%s\\t%s' % (name, str(e).split(chr(10))[0][:300]))
         |print('OK\\t%d' % n)
         |""".stripMargin
    val scriptPath = dir.resolve("lint.py")
    Files.writeString(scriptPath, script)

    val pb = new ProcessBuilder("python3", scriptPath.toString, sqlJson.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    assert(rc == 0, s"lint.py exited $rc:\n$out")

    val lines = out.linesIterator.toSeq
    val bad = lines.filter(_.startsWith("BAD\t")).map(_.split("\t", -1))
    val errs = lines.filter(_.startsWith("ERR\t"))
    val okCount = lines.collectFirst { case l if l.startsWith("OK\t") =>
      l.split("\t")(1).toInt }

    assert(errs.isEmpty,
      s"oracle SQL failed to bind in DuckDB (driver gate would red these):\n${errs.mkString("\n")}")

    val offenders = bad.filterNot(b => canaries.contains(b(1)))
    assert(offenders.isEmpty,
      "an int128-backed type reaches an oracle output column (HUGEINT / " +
        "DECIMAL precision>18 = 128-bit repr on the driver's hash path, " +
        "hash-red vs Spark's int64-backed value; CAST integer sums to " +
        "BIGINT and decimals to precision <= 18):\n" +
        offenders.map(_.mkString(" ")).mkString("\n"))

    // detector self-test: every canary MUST be flagged — if one is not,
    // the lint has gone blind (or the canary lost its wide column without
    // losing its tag) and this gate is no longer guarding
    val blind = canaries.filterNot(c => bad.exists(b => b(1) == c))
    assert(blind.isEmpty,
      s"canaries (deliberately DECIMAL(20,9)) NOT flagged int128 — the lint is blind: $blind")

    assert(okCount.exists(_ == SparkEntry.oracleSql.size),
      s"checked ${okCount.getOrElse(-1)} of ${SparkEntry.oracleSql.size} oracle queries")
  }
}
