package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.SqliteFile

/** Pure-JVM SQLite file reader/writer. The roundtrip tests prove
  * writer↔reader consistency; the HAND-CRAFTED byte fixtures pin the
  * reader to the PUBLIC on-disk spec (sqlite.org/fileformat2.html) so a
  * self-consistent-but-wrong format can't pass silently. */
class SqliteFileSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDb(name: String): String = tempDir(name) + "/db.sqlite"

  test("record codec: every serial type round-trips; spec-pinned bytes decode") {
    // hand-assembled record straight from the spec's serial-type table:
    // header [hdrLen=5, types 1 (int8), 13+2*2=17 (2-char text)] then
    // body [0x2A, 'h','i'] — decodes to (42L, "hi")
    val crafted = Array[Byte](3, 1, 17, 42, 'h'.toByte, 'i'.toByte)
    val got = SqliteFile.decodeRecord(crafted)
    assert(got.toSeq == Seq(42L, "hi"))
    // serial types 8/9 are the literal constants 0 and 1 (schema format 4)
    assert(SqliteFile.decodeRecord(Array[Byte](3, 8, 9)).toSeq == Seq(0L, 1L))
  }

  test("roundtrip: orders subset through a real .sqlite file, partitioned read") {
    val src = sf("orders")
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_totalprice").cast("double"), col("o_orderstatus").cast("string"))
      .orderBy("o_orderkey")
    val path = tmpDb("orders")
    SqliteFile.write(src, path, "orders")
    val back = SqliteFile.read(spark, path, "orders")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("o_orderkey", LongType), ("o_custkey", LongType),
      ("o_totalprice", DoubleType), ("o_orderstatus", StringType)))
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b && b.nonEmpty)
  }

  test("roundtrip: nulls, negatives, booleans, blobs, empty strings") {
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("b", BinaryType),
      StructField("f", BooleanType)))
    val rows = Seq(
      Row(1L, 1.5, "plain", Array[Byte](1, 2, 3), true),
      Row(-9007199254740993L, -0.0, "", Array.emptyByteArray, false),
      Row(null, null, null, null, null),
      Row(Long.MaxValue, Double.MaxValue, "uni ✓ 𝄞", Array[Byte](-1), true))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(identity)), schema)
    val path = tmpDb("types")
    SqliteFile.write(df, path, "t")
    val back = SqliteFile.read(spark, path, "t").collect()
    // booleans are stored as INTEGER 0/1 (SQLite has no boolean type)
    val want = rows.map(r => Seq(r.get(0), r.get(1), r.get(2),
      Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull,
      Option(r.get(4))
        .map(b => (if (b.asInstanceOf[Boolean]) 1L else 0L): java.lang.Long)
        .orNull)).toSet
    val got = back.map(r => Seq(r.get(0), r.get(1), r.get(2),
      Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq).orNull, r.get(4))).toSet
    assert(got == want)
  }

  test("multi-page trees and overflow chains round-trip") {
    // enough rows to need interior pages, plus payloads far beyond one
    // page to exercise overflow spill on write and chain-follow on read
    val big = (1 to 3000).map(i => (i.toLong, ("x" * (i % 7)) + i.toString))
    val wide = Seq((100001L, "y" * 20000), (100002L, "z" * 9000))
    val df = (big ++ wide).toDF("k", "v")
    val path = tmpDb("pages")
    SqliteFile.write(df, path, "t")
    val back = SqliteFile.read(spark, path, "t")
    assert(back.count() == 3002)
    val got = back.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (big ++ wide).toSet)
    // the b-tree really is multi-page: file holds > 10 pages
    assert(new java.io.File(path).length() > 10 * 4096)
  }

  test("INTEGER PRIMARY KEY columns read from the rowid (spec §2.1 alias)") {
    // HAND-CRAFTED two-page database (no writer involved): sqlite_master
    // declares "id" INTEGER PRIMARY KEY, and each data record stores NULL
    // in that slot — per spec the reader must substitute the cell's rowid
    val pageSize = 4096
    def w16(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = ((v >> 8) & 0xFF).toByte; b(o + 1) = (v & 0xFF).toByte
    }
    def leafPage(base: Int, cells: Seq[(Long, Array[Byte])]): Array[Byte] = {
      val b = new Array[Byte](pageSize)
      b(base) = 13
      w16(b, base + 3, cells.size)
      var content = pageSize
      cells.zipWithIndex.foreach { case ((rowid, rec), i) =>
        val cell = Array[Byte](rec.length.toByte, rowid.toByte) ++ rec // 1-byte varints
        content -= cell.length
        w16(b, base + 8 + 2 * i, content)
        System.arraycopy(cell, 0, b, content, cell.length)
      }
      w16(b, base + 5, content)
      b
    }
    val sql = """CREATE TABLE "t" ("id" INTEGER PRIMARY KEY, "v" TEXT)"""
    val master = leafPage(100, Seq(
      (1L, SqliteFile.encodeRecord(Seq("table", "t", "t", 2L, sql)))))
    // file header on page 1
    System.arraycopy("SQLite format 3\u0000".getBytes("ISO-8859-1"), 0, master, 0, 16)
    w16(master, 16, pageSize)
    master(18) = 1; master(19) = 1
    master(21) = 64; master(22) = 32; master(23) = 32
    master(31) = 2 // page count u32 @28 = 2
    master(59) = 1 // text encoding u32 @56 = 1 (UTF-8)
    val data = leafPage(0, Seq(
      (7L, SqliteFile.encodeRecord(Seq(null, "seven"))),
      (9L, SqliteFile.encodeRecord(Seq(null, "nine")))))
    val path = tmpDb("ipk")
    val out = new java.io.FileOutputStream(path)
    out.write(master); out.write(data); out.close()
    val got = SqliteFile.read(spark, path, "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((7L, "seven"), (9L, "nine")))
  }

  test("tables() lists the catalog with roots and SQL") {
    val path = tmpDb("cat")
    SqliteFile.write(Seq((1L, "x")).toDF("a", "b"), path, "only")
    val ts = SqliteFile.tables(path)
    assert(ts.map(_._1) == Seq("only"))
    assert(ts.head._2 >= 2) // root beyond page 1
    assert(ts.head._3.contains("CREATE TABLE \"only\""))
  }

  test("multi-table database: independent trees, one catalog") {
    val path = tmpDb("multi")
    SqliteFile.writeTables(Seq(
      "nums" -> (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("n", "d"),
      "strs" -> Seq((1L, "one"), (2L, "two")).toDF("k", "s"),
      "empty_t" -> spark.emptyDataFrame
        .sparkSession.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("z", LongType))))), path)
    assert(SqliteFile.tables(path).map(_._1).toSet == Set("nums", "strs", "empty_t"))
    assert(SqliteFile.read(spark, path, "nums").count() == 500)
    assert(SqliteFile.read(spark, path, "strs")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "one"), (2L, "two")))
    assert(SqliteFile.read(spark, path, "empty_t").count() == 0)
  }

  test("rowid-alias detection follows spec \u00a72.1 exactly") {
    assert(SqliteFile.isRowidAlias("INTEGER PRIMARY KEY"))
    assert(SqliteFile.isRowidAlias("INTEGER PRIMARY KEY ASC"))
    assert(SqliteFile.isRowidAlias("INTEGER PRIMARY KEY AUTOINCREMENT"))
    assert(SqliteFile.isRowidAlias("INTEGER NOT NULL PRIMARY KEY"))
    // DESC primary key is NOT a rowid alias (spec \u00a72.1)
    assert(!SqliteFile.isRowidAlias("INTEGER PRIMARY KEY DESC"))
    // the declared type must be exactly INTEGER
    assert(!SqliteFile.isRowidAlias("UNSIGNED INTEGER PRIMARY KEY"))
    assert(!SqliteFile.isRowidAlias("INT PRIMARY KEY"))
    assert(!SqliteFile.isRowidAlias("BIGINT PRIMARY KEY"))
    // no primary key at all
    assert(!SqliteFile.isRowidAlias("INTEGER"))
    assert(!SqliteFile.isRowidAlias("INTEGER NOT NULL"))
  }

  test("interior pages never have zero cells (trailing-group rebalance)") {
    // calibrate rows-per-leaf with a probe write, then size the table so
    // the leaf count is ONE MORE than a full interior page's fanout --
    // the exact shape whose naive grouped() split yields a cell-less
    // interior page holding only a right-most pointer
    def leafCellCounts(path: String): Seq[Int] = {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val pageSize = ((bytes(16) & 0xFF) << 8) | (bytes(17) & 0xFF)
      def u16(o: Int) = ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
      (1 to bytes.length / pageSize).flatMap { pg =>
        val base = (pg - 1) * pageSize + (if (pg == 1) 100 else 0)
        if (bytes(base) == 13 && pg != 1) Some(u16(base + 3)) else None
      }
    }
    def interiorCellCounts(path: String): Seq[Int] = {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val pageSize = ((bytes(16) & 0xFF) << 8) | (bytes(17) & 0xFF)
      def u16(o: Int) = ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
      (2 to bytes.length / pageSize).flatMap { pg =>
        val base = (pg - 1) * pageSize
        if (bytes(base) == 5) Some(u16(base + 3)) else None
      }
    }
    val probe = tmpDb("rebalance_probe")
    SqliteFile.write(spark.range(5000).selectExpr("id AS v"), probe, "t")
    val perLeaf = leafCellCounts(probe).max
    val perPage = (4096 - 12) / 15 // the builder's interior fanout
    val n = perLeaf.toLong * perPage + 1 // leaf count = perPage + 1
    val path = tmpDb("rebalance")
    SqliteFile.write(spark.range(n).selectExpr("id AS v"), path, "t")
    val ints = interiorCellCounts(path)
    assert(ints.nonEmpty, "expected a two-level interior tree")
    assert(ints.forall(_ >= 1),
      s"interior page with zero cells written (counts: $ints)")
    assert(SqliteFile.read(spark, path, "t").count() == n)
    // real SQLite must accept the rebalanced shape
    val rc = new ProcessBuilder("sqlite3", path, "PRAGMA integrity_check;")
      .redirectErrorStream(true).start()
    val out = new String(rc.getInputStream.readAllBytes(), "UTF-8").trim
    assert(rc.waitFor() == 0 && out == "ok", s"integrity_check: $out")
  }

  test("index b-trees: write, real-sqlite validates and uses them, keyed read") {
    val path = tmpDb("indexed")
    val df = spark.range(20000).selectExpr(
      "id AS k", "CAST(id % 97 AS BIGINT) AS grp", "CAST(id * 7 AS STRING) AS v")
    SqliteFile.writeTablesIndexed(Seq(("t", df, Seq("grp"))), path)
    // catalog lists the index
    val idx = SqliteFile.indexes(path)
    assert(idx.map(_._1) == Seq("idx_t_grp") && idx.head._2 == "t")
    // real SQLite accepts the file AND the index contents match the table
    val ic = new ProcessBuilder("sqlite3", path, "PRAGMA integrity_check;")
      .redirectErrorStream(true).start()
    val icOut = new String(ic.getInputStream.readAllBytes(), "UTF-8").trim
    assert(ic.waitFor() == 0 && icOut == "ok", s"integrity_check: $icOut")
    // real SQLite actually PLANS through our index
    val ep = new ProcessBuilder("sqlite3", path,
      "EXPLAIN QUERY PLAN SELECT * FROM t WHERE grp = 42;")
      .redirectErrorStream(true).start()
    val epOut = new String(ep.getInputStream.readAllBytes(), "UTF-8")
    assert(epOut.contains("idx_t_grp"), s"planner ignored the index: $epOut")
    // our keyed read returns exactly the matching rows
    val got = SqliteFile.readIndexed(spark, path, "t", "grp", Seq(0L, 42L, 96L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val want = (0L until 20000L).filter(k => Seq(0L, 42L, 96L).contains(k % 97))
      .map(k => (k, k % 97, (k * 7).toString))
    assert(got.sortBy(_._1).toSeq == want)
    // absent key -> empty, no error
    assert(SqliteFile.readIndexed(spark, path, "t", "grp", Seq(1000L)).count() == 0)
  }

  test("index leaf-split boundary: last entry exactly overflowing the last leaf") {
    // ~950 B keys make an index leaf hold exactly a handful of cells, so a
    // small N sweep crosses several leaf boundaries — including the shape
    // where the FINAL entry triggers the split (pre-fix: the new leaf got
    // no separator, |seps| = |leaves| - 2, and packIndexInterior threw).
    // The invariant-preserving fix promotes the filled leaf's last entry
    // as the separator and writes the trigger as the one-entry last leaf.
    def key(i: Int): String = f"k$i%05d" + ("x" * 940)
    (2 to 20).foreach { n =>
      val path = tmpDb(s"idx_boundary_$n")
      val df = spark.range(n.toLong)
        .selectExpr("id AS rid", s"printf('k%05d', id) || '${"x" * 940}' AS bigkey")
      SqliteFile.writeTablesIndexed(Seq(("t", df, Seq("bigkey"))), path)
      val ic = new ProcessBuilder("sqlite3", path, "PRAGMA integrity_check;")
        .redirectErrorStream(true).start()
      val icOut = new String(ic.getInputStream.readAllBytes(), "UTF-8").trim
      assert(ic.waitFor() == 0 && icOut == "ok", s"n=$n integrity_check: $icOut")
      // every key found through OUR index reader, including the promoted
      // separators (which live only on interior pages)
      val probes = Seq(0, n / 2, n - 1).distinct.map(key)
      val got = SqliteFile.readIndexed(spark, path, "t", "bigkey", probes)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(0, n / 2, n - 1).distinct.map(_.toLong).sorted,
        s"n=$n keyed read lost rows: $got")
      // and real SQLite finds every row THROUGH the index
      val q = new ProcessBuilder("sqlite3", path,
        s"SELECT count(*) FROM t INDEXED BY idx_t_bigkey WHERE bigkey >= 'k';")
        .redirectErrorStream(true).start()
      val qOut = new String(q.getInputStream.readAllBytes(), "UTF-8").trim
      assert(q.waitFor() == 0 && qOut == n.toString, s"n=$n index scan: $qOut")
    }
  }

  test("composite index: write, real-sqlite plans through it, tuple seeks and ranges") {
    val path = tmpDb("composite")
    val df = spark.range(9000).selectExpr(
      "id AS k", "CAST(id % 53 AS BIGINT) AS a",
      "CASE WHEN id % 3 = 0 THEN 'F' WHEN id % 3 = 1 THEN 'O' ELSE 'P' END AS b",
      "CAST(id * 2 AS BIGINT) AS v")
    SqliteFile.writeTablesIndexedMulti(
      Seq(("t", df, Seq(Seq("a", "b")))), path)
    assert(SqliteFile.indexes(path).map(_._1) == Seq("idx_t_a_b"))
    // real SQLite accepts the file and PLANS a two-column probe through it
    val ic = new ProcessBuilder("sqlite3", path, "PRAGMA integrity_check;")
      .redirectErrorStream(true).start()
    val icOut = new String(ic.getInputStream.readAllBytes(), "UTF-8").trim
    assert(ic.waitFor() == 0 && icOut == "ok", s"integrity_check: $icOut")
    val ep = new ProcessBuilder("sqlite3", path,
      "EXPLAIN QUERY PLAN SELECT * FROM t WHERE a = 7 AND b = 'O';")
      .redirectErrorStream(true).start()
    val epOut = new String(ep.getInputStream.readAllBytes(), "UTF-8")
    assert(epOut.contains("idx_t_a_b"), s"planner ignored the composite index: $epOut")
    // full-tuple equality seeks
    val eq = SqliteFile.readIndexedMulti(spark, path, "t", Seq("a", "b"),
      Seq(Seq(7L, "O"), Seq(11L, "P")))
      .collect().map(_.getLong(0)).sorted.toSeq
    val eqWant = (0L until 9000L).filter { id =>
      (id % 53 == 7 && id % 3 == 1) || (id % 53 == 11 && id % 3 == 2) }
    assert(eq == eqWant)
    // PREFIX seek through the composite index (leading column only)
    val pre = SqliteFile.readIndexedMulti(spark, path, "t", Seq("a"), Seq(Seq(13L)))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pre == (0L until 9000L).filter(_ % 53 == 13))
    // lexicographic tuple window: (10,'O') <= (a,b) <= (12,'F') — includes
    // ALL of a=11, not a per-column rectangle
    val rng = SqliteFile.readIndexedRangeMulti(spark, path, "t", Seq("a", "b"),
      Seq(10L, "O"), Seq(12L, "F"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val rngWant = (0L until 9000L).filter { id =>
      val a = id % 53
      val b = id % 3 match { case 0 => "F"; case 1 => "O"; case _ => "P" }
      (a == 10 && b >= "O") || a == 11 || (a == 12 && b <= "F")
    }
    assert(rng == rngWant)
    // absent tuple -> empty, no error
    assert(SqliteFile.readIndexedMulti(spark, path, "t", Seq("a", "b"),
      Seq(Seq(999L, "Z"))).count() == 0)
  }

  test("composite keyed read of an index REAL SQLite wrote (interop)") {
    val path = tmpDb("ext_composite")
    val sql = Seq(
      "CREATE TABLE t(x INTEGER, g INTEGER, s TEXT);",
      "CREATE INDEX icomp ON t(g, s);",
      "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x+1 FROM c WHERE x < 4000) " +
        "INSERT INTO t SELECT x, x % 19, 'z' || (x % 5) FROM c;").mkString(" ")
    val p = new ProcessBuilder("sqlite3", path, sql).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    val got = SqliteFile.readIndexedMulti(spark, path, "t", Seq("g", "s"),
      Seq(Seq(3L, "z2"), Seq(17L, "z0")))
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = (1L to 4000L).filter(x =>
      (x % 19 == 3 && x % 5 == 2) || (x % 19 == 17 && x % 5 == 0))
    assert(got == want)
  }

  test("DESC / COLLATE indexes are refused, not silently mis-walked") {
    val path = tmpDb("ext_desc_idx")
    val sql = Seq(
      "CREATE TABLE t(a INTEGER, b INTEGER, c TEXT);",
      "CREATE INDEX ibd ON t(b DESC);",
      "CREATE INDEX icn ON t(c COLLATE NOCASE);",
      "CREATE INDEX iab ON t(a ASC, b DESC);",
      "WITH RECURSIVE r(x) AS (SELECT 1 UNION ALL SELECT x+1 FROM r WHERE x < 500) " +
        "INSERT INTO t SELECT x, x % 7, 'v' || (x % 7) FROM r;").mkString(" ")
    val p = new ProcessBuilder("sqlite3", path, sql).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    // a DESC or COLLATE index stores keys in a different order than the
    // binary-ascending walk assumes — selecting it would return wrong or
    // empty results, so the lookup must fail loudly instead
    val e1 = intercept[IllegalArgumentException] {
      SqliteFile.readIndexed(spark, path, "t", "b", Seq(3L)).collect()
    }
    assert(e1.getMessage.contains("no complete index"))
    val e2 = intercept[IllegalArgumentException] {
      SqliteFile.readIndexed(spark, path, "t", "c", Seq("v3")).collect()
    }
    assert(e2.getMessage.contains("no complete index"))
    // an explicit ASC leading column is fine; the DESC trailing column
    // never joins the matched prefix
    val got = SqliteFile.readIndexed(spark, path, "t", "a", Seq(42L))
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(42L % 7))
    intercept[IllegalArgumentException] {
      SqliteFile.readIndexedMulti(spark, path, "t", Seq("a", "b"),
        Seq(Seq(1L, 1L))).collect()
    }
  }

  test("keyed read of an index REAL SQLite wrote (interop, reverse direction)") {
    val path = tmpDb("ext_indexed")
    val sql = Seq(
      "CREATE TABLE t(a INTEGER, b TEXT);",
      "CREATE INDEX ib ON t(b);",
      "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x+1 FROM c WHERE x < 5000) " +
        "INSERT INTO t SELECT x, 'k' || (x % 37) FROM c;").mkString(" ")
    val p = new ProcessBuilder("sqlite3", path, sql).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    val got = SqliteFile.readIndexed(spark, path, "t", "b", Seq("k3", "k36"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val want = (1L to 5000L).filter(x => x % 37 == 3 || x % 37 == 36)
      .map(x => (x, "k" + (x % 37)))
    assert(got.sortBy(_._1).toSeq == want)
  }

  test("index range scan returns the ordered window, pruned") {
    val path = tmpDb("idx_range")
    val df = spark.range(30000).selectExpr(
      "id AS k", "CAST(id % 1009 AS BIGINT) AS grp")
    SqliteFile.writeTablesIndexed(Seq(("t", df, Seq("grp"))), path)
    val got = SqliteFile.readIndexedRange(spark, path, "t", "grp", 100L, 110L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (0L until 30000L).filter(k => k % 1009 >= 100 && k % 1009 <= 110)
      .map(k => (k, k % 1009))
    assert(got.sortBy(_._1).toSeq == want)
    // degenerate windows
    assert(SqliteFile.readIndexedRange(spark, path, "t", "grp", 2000L, 3000L).count() == 0)
    assert(SqliteFile.readIndexedRange(spark, path, "t", "grp", 42L, 42L).count() ==
      (0L until 30000L).count(_ % 1009 == 42).toLong)
  }

  test("WITHOUT ROWID write: real sqlite reads it via the PRIMARY KEY, we read it back") {
    val path = tmpDb("worowid_w")
    val df = spark.range(5000).selectExpr(
      "CAST(id AS STRING) || '-v' AS v", "id AS k", "CAST(id AS DOUBLE) / 4 AS w")
    // PK column is NOT first in declared order: the record remap
    // (PK-first storage, declared-order presentation) is exercised
    SqliteFile.writeTablesWithoutRowid(Seq(("t", df, Seq("k"))), path)
    val ic = new ProcessBuilder("sqlite3", path, "PRAGMA integrity_check;")
      .redirectErrorStream(true).start()
    val icOut = new String(ic.getInputStream.readAllBytes(), "UTF-8").trim
    assert(ic.waitFor() == 0 && icOut == "ok", s"integrity_check: $icOut")
    // real SQLite point-reads THROUGH the clustered PK (no fallback scan)
    val q = new ProcessBuilder("sqlite3", path,
      "EXPLAIN QUERY PLAN SELECT v FROM t WHERE k = 4321; " +
        "SELECT v, w FROM t WHERE k = 4321;")
      .redirectErrorStream(true).start()
    val qOut = new String(q.getInputStream.readAllBytes(), "UTF-8")
    assert(q.waitFor() == 0 && qOut.contains("PRIMARY KEY"), s"plan: $qOut")
    assert(qOut.contains("4321-v|1080.25"), s"row: $qOut")
    // our reader round-trips in DECLARED order
    val back = SqliteFile.read(spark, path, "t").orderBy("k").collect()
    assert(back.length == 5000)
    assert(back(17).getString(0) == "17-v" && back(17).getLong(1) == 17L &&
      back(17).getDouble(2) == 4.25)
  }

  test("WITHOUT ROWID write: composite PK, oversized rows ride overflow chains") {
    val path = tmpDb("worowid_big")
    // ~3 KB rows force index-page overflow chains on leaves AND promoted
    // separators; 400 rows force interior pages above them
    val df = spark.range(400).selectExpr(
      "CAST(id % 20 AS BIGINT) AS a", "id AS b",
      "repeat('x', 3000) || CAST(id AS STRING) AS body")
    SqliteFile.writeTablesWithoutRowid(Seq(("big", df, Seq("a", "b"))), path)
    val ic = new ProcessBuilder("sqlite3", path, "PRAGMA integrity_check;")
      .redirectErrorStream(true).start()
    val icOut = new String(ic.getInputStream.readAllBytes(), "UTF-8").trim
    assert(ic.waitFor() == 0 && icOut == "ok", s"integrity_check: $icOut")
    val q = new ProcessBuilder("sqlite3", path,
      "SELECT length(body), substr(body, 3001) FROM big WHERE a = 7 AND b = 247;")
      .redirectErrorStream(true).start()
    val qOut = new String(q.getInputStream.readAllBytes(), "UTF-8").trim
    assert(q.waitFor() == 0 && qOut == "3003|247", s"row: $qOut")
    val back = SqliteFile.read(spark, path, "big")
    assert(back.count() == 400)
    assert(back.filter("b = 399").collect()(0).getString(2) ==
      "x" * 3000 + "399")
    // constraint violations throw instead of corrupting
    val dup = spark.range(4).selectExpr("CAST(id % 2 AS BIGINT) AS a", "'z' AS s")
    val e = intercept[Exception] {
      SqliteFile.writeTablesWithoutRowid(Seq(("d", dup, Seq("a"))), tmpDb("worowid_dup"))
    }
    assert(e.getMessage.contains("duplicate PRIMARY KEY"))
    val withNull = spark.sql("SELECT CAST(NULL AS BIGINT) AS a, 'z' AS s")
    val e2 = intercept[Exception] {
      SqliteFile.writeTablesWithoutRowid(Seq(("n", withNull, Seq("a"))), tmpDb("worowid_null"))
    }
    assert(e2.getMessage.contains("NULL PRIMARY KEY"))
  }

  test("WITHOUT ROWID tables read back in declared column order") {
    val path = tmpDb("worowid")
    // real SQLite writes it; PK columns lead each stored record and the
    // reader must remap them back to declared order (spec \u00a72.2) --
    // including a multi-page tree and a table-level composite PK
    val sql = Seq(
      "CREATE TABLE t(v TEXT, k INTEGER PRIMARY KEY, w REAL) WITHOUT ROWID;",
      "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x+1 FROM c WHERE x < 8000) " +
        "INSERT INTO t SELECT 'v' || x, x, x * 0.5 FROM c;",
      "CREATE TABLE m(a TEXT, b INTEGER, c TEXT, PRIMARY KEY (c, b)) WITHOUT ROWID;",
      "INSERT INTO m VALUES ('x', 1, 'p'), ('y', 2, 'q'), (NULL, 3, 'r');").mkString(" ")
    val p = new ProcessBuilder("sqlite3", path, sql).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    val t = SqliteFile.read(spark, path, "t")
    assert(t.columns.toSeq == Seq("v", "k", "w"))
    assert(t.count() == 8000)
    val sample = t.filter("k = 4567").collect()
    assert(sample.length == 1 &&
      sample(0).getString(0) == "v4567" && sample(0).getDouble(2) == 2283.5)
    val m = SqliteFile.read(spark, path, "m").orderBy("b")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(m.toSeq == Seq(("x", 1L, "p"), ("y", 2L, "q"), (null, 3L, "r")))
  }

  test("review fixes: table-level rowid alias, named-constraint PK, partial-index rejection, spilling index sort") {
    // (1) table-level single-column PRIMARY KEY(x) on an INTEGER column is
    // a rowid alias too (spec 2.1) -- real SQLite stores NULL in the slot
    val p1 = tmpDb("tbl_pk_alias")
    val sql1 = Seq(
      "CREATE TABLE t(a INTEGER, b TEXT, PRIMARY KEY(a));",
      "INSERT INTO t VALUES (7, 'seven'), (9, 'nine');").mkString(" ")
    val pr1 = new ProcessBuilder("sqlite3", p1, sql1).redirectErrorStream(true).start()
    assert(pr1.waitFor() == 0, new String(pr1.getInputStream.readAllBytes(), "UTF-8"))
    val got1 = SqliteFile.read(spark, p1, "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got1 == Set((7L, "seven"), (9L, "nine")))

    // (2) named table-level constraint + case-insensitive PK references in
    // a WITHOUT ROWID table
    val p2 = tmpDb("named_pk")
    val sql2 = Seq(
      "CREATE TABLE m(a TEXT, B INTEGER, c TEXT, CONSTRAINT pk PRIMARY KEY (b, C)) WITHOUT ROWID;",
      "INSERT INTO m VALUES ('x', 1, 'p'), ('y', 2, 'q');").mkString(" ")
    val pr2 = new ProcessBuilder("sqlite3", p2, sql2).redirectErrorStream(true).start()
    assert(pr2.waitFor() == 0, new String(pr2.getInputStream.readAllBytes(), "UTF-8"))
    val got2 = SqliteFile.read(spark, p2, "m").orderBy("B")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got2.toSeq == Seq(("x", 1L, "p"), ("y", 2L, "q")))

    // (3) a PARTIAL index must be rejected, not silently used
    val p3 = tmpDb("partial_idx")
    val sql3 = Seq(
      "CREATE TABLE t(k INTEGER, g INTEGER);",
      "CREATE INDEX ig ON t(g) WHERE g > 0;",
      "INSERT INTO t VALUES (1, 0), (2, 5);").mkString(" ")
    val pr3 = new ProcessBuilder("sqlite3", p3, sql3).redirectErrorStream(true).start()
    assert(pr3.waitFor() == 0, new String(pr3.getInputStream.readAllBytes(), "UTF-8"))
    val e = intercept[IllegalArgumentException] {
      SqliteFile.readIndexed(spark, p3, "t", "g", Seq(0L))
    }
    assert(e.getMessage.contains("no complete index with leading columns"))

    // (4) indexed write past the 1M-pair spill threshold: bounded-memory
    // external sort produces a valid index real SQLite accepts and plans
    val p4 = tmpDb("spill_idx")
    val big = spark.range(1200000).selectExpr("id AS k", "CAST(id % 4096 AS BIGINT) AS g")
    SqliteFile.writeTablesIndexed(Seq(("t", big, Seq("g"))), p4)
    val ic = new ProcessBuilder("sqlite3", p4, "PRAGMA integrity_check;")
      .redirectErrorStream(true).start()
    val icOut = new String(ic.getInputStream.readAllBytes(), "UTF-8").trim
    assert(ic.waitFor() == 0 && icOut == "ok", s"integrity_check: $icOut")
    assert(SqliteFile.readIndexed(spark, p4, "t", "g", Seq(511L)).count() ==
      (0L until 1200000L).count(_ % 4096 == 511).toLong)
  }

  test("sqliteCompare follows the record sort order (NULL < numeric < text < blob)") {
    val c = SqliteFile.sqliteCompare _
    assert(c(null, 1L) < 0 && c(1L, "a") < 0 && c("a", Array[Byte](0)) < 0)
    assert(c(2L, 10L) < 0 && c(2L, 2.5) < 0 && c(3.0, 3L) == 0)
    // TEXT compares by UTF-8 bytes: supplementary (4-byte) sorts after BMP
    assert(c("\uffff", new String(Character.toChars(0x10000))) < 0)
    assert(c(Array[Byte](1, 2), Array[Byte](1, 2, 0)) < 0)
    assert(c(Array[Byte](-1), Array[Byte](1)) > 0) // unsigned memcmp
  }

  test("partial consumption closes the page file (task completion listener)") {
    val path = tmpDb("partial")
    SqliteFile.write(spark.range(20000).selectExpr("id AS v"), path, "t")
    def openFds(): Int = {
      val dir = java.nio.file.Paths.get("/proc/self/fd")
      if (!java.nio.file.Files.isDirectory(dir)) -1
      else {
        val st = java.nio.file.Files.list(dir)
        try st.filter { fd =>
          try java.nio.file.Files.readSymbolicLink(fd).toString.endsWith(path)
          catch { case _: Throwable => false }
        }.count().toInt
        finally st.close()
      }
    }
    assume(openFds() >= 0, "/proc/self/fd unavailable")
    // limit() short-circuits the iterator: without the completion
    // listener every take leaks one RandomAccessFile per touched task
    for (_ <- 1 to 5)
      assert(SqliteFile.read(spark, path, "t").limit(1).collect().length == 1)
    assert(openFds() == 0, s"leaked ${openFds()} file handles to $path")
  }
}
