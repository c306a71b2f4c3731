package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Pure-JVM SQLite DATABASE FILE reader/writer — the driver-less answer to
  * the reference's SQLite source/sink (`WarpConduit/Sources/SQLiteStream
  * .swift:238-738`, which links libsqlite3; no JDBC driver or native
  * library exists in this environment, so the on-disk format itself —
  * a public, stable spec (sqlite.org/fileformat2.html) — is implemented
  * directly).
  *
  * Scope: rowid table b-trees, UTF-8 databases. Read: full-table scan of
  * any well-formed table (interior/leaf table pages, overflow chains,
  * INTEGER PRIMARY KEY rowid aliasing, all serial types). Write: a fresh
  * single-file database with one or more rowid tables (leaf + interior
  * levels built bottom-up, overflow chains for large records, page 1
  * `sqlite_master`).
  *
  * Scale shape, read side: the DRIVER touches only the interior pages
  * (pointer-chasing is inherently serial, but interiors are ~1/400th of
  * the file) to enumerate leaf page numbers; leaf decoding — all the row
  * work — fans out over executors with one random-access read per leaf.
  * A SQLite file is a single-node artifact, so the write side is a
  * deliberate driver-side single-file export (`toLocalIterator`, bounded
  * memory) — the same semantics as the reference's sink, documented as
  * such rather than pretending a b-tree file can be written distributed.
  */
object SqliteFile {

  // ---------- low-level format ----------

  private val Magic = "SQLite format 3\u0000".getBytes("ISO-8859-1")

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xFF
  private def u16(b: Array[Byte], o: Int): Int = ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  /** SQLite varint: 1-9 bytes, big-endian 7-bit groups, 9th byte all 8
    * bits. Returns (value, bytesConsumed). */
  private def varint(b: Array[Byte], o: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(o + i)
      v = (v << 7) | (x & 0x7FL)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | (b(o + 8) & 0xFFL), 9)
  }

  private def putVarint(v: Long): Array[Byte] = {
    if (v < 0) { // 9-byte form
      val out = new Array[Byte](9)
      var x = v
      out(8) = (x & 0xFF).toByte; x >>>= 8
      for (i <- 7 to 0 by -1) { out(i) = ((x & 0x7F) | 0x80).toByte; x >>>= 7 }
      return out
    }
    val groups = scala.collection.mutable.ArrayBuffer[Byte]()
    var x = v
    do { groups += (x & 0x7F).toByte; x >>>= 7 } while (x != 0)
    val arr = groups.reverse.toArray
    for (i <- 0 until arr.length - 1) arr(i) = (arr(i) | 0x80).toByte
    arr
  }

  /** Decode one record (the row payload format): header of serial types,
    * then values. Returns the column values (null / Long / Double /
    * String / Array[Byte]). */
  private[graft] def decodeRecord(p: Array[Byte]): Array[Any] = {
    val (hdrLen, n0) = varint(p, 0)
    var ho = n0
    val types = scala.collection.mutable.ArrayBuffer[Long]()
    while (ho < hdrLen) { val (t, n) = varint(p, ho); types += t; ho += n }
    var off = hdrLen.toInt
    val out = new Array[Any](types.length)
    var i = 0
    while (i < types.length) {
      types(i) match {
        case 0 => out(i) = null
        case 1 => out(i) = p(off).toLong; off += 1
        case 2 => out(i) = ((p(off).toLong << 8) | (p(off + 1) & 0xFFL)); off += 2
        case 3 =>
          out(i) = (p(off).toLong << 16) | ((p(off + 1) & 0xFFL) << 8) | (p(off + 2) & 0xFFL)
          off += 3
        case 4 =>
          out(i) = (p(off).toLong << 24) | ((p(off + 1) & 0xFFL) << 16) |
            ((p(off + 2) & 0xFFL) << 8) | (p(off + 3) & 0xFFL)
          off += 4
        case 5 =>
          var v = p(off).toLong
          for (j <- 1 until 6) v = (v << 8) | (p(off + j) & 0xFFL)
          out(i) = v; off += 6
        case 6 =>
          var v = p(off).toLong
          for (j <- 1 until 8) v = (v << 8) | (p(off + j) & 0xFFL)
          out(i) = v; off += 8
        case 7 =>
          var bits = 0L
          for (j <- 0 until 8) bits = (bits << 8) | (p(off + j) & 0xFFL)
          out(i) = java.lang.Double.longBitsToDouble(bits); off += 8
        case 8 => out(i) = 0L
        case 9 => out(i) = 1L
        case t if t >= 13 && t % 2 == 1 =>
          val len = ((t - 13) / 2).toInt
          out(i) = new String(p, off, len, "UTF-8"); off += len
        case t if t >= 12 =>
          val len = ((t - 12) / 2).toInt
          out(i) = java.util.Arrays.copyOfRange(p, off, off + len); off += len
      }
      i += 1
    }
    out
  }

  private[graft] def encodeRecord(vals: Seq[Any]): Array[Byte] = {
    val bodies = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val types = vals.map {
      case null => bodies += Array.emptyByteArray; 0L
      case v: Long =>
        val bytesNeeded =
          if (v >= -128 && v <= 127) 1
          else if (v >= -32768 && v <= 32767) 2
          else if (v >= -8388608 && v <= 8388607) 3
          else if (v >= Int.MinValue && v <= Int.MaxValue) 4
          else if (v >= -140737488355328L && v <= 140737488355327L) 6
          else 8
        val arr = new Array[Byte](bytesNeeded)
        var x = v
        for (j <- bytesNeeded - 1 to 0 by -1) { arr(j) = (x & 0xFF).toByte; x >>= 8 }
        bodies += arr
        (bytesNeeded match {
          case 1 => 1; case 2 => 2; case 3 => 3; case 4 => 4; case 6 => 5; case 8 => 6
        }).toLong
      case v: Double =>
        val bits = java.lang.Double.doubleToLongBits(v)
        val arr = new Array[Byte](8)
        var x = bits
        for (j <- 7 to 0 by -1) { arr(j) = (x & 0xFF).toByte; x >>>= 8 }
        bodies += arr; 7L
      case v: String =>
        val arr = v.getBytes("UTF-8"); bodies += arr; 13L + 2L * arr.length
      case v: Array[Byte] => bodies += v; 12L + 2L * v.length
      case other => throw new IllegalArgumentException(
        s"unsupported SQLite value type: ${other.getClass}")
    }
    val typeBytes = types.map(putVarint)
    // header length varint includes itself: iterate to fixpoint (1 pass
    // suffices below 127 bytes, 2 passes generally)
    var hdrLen = typeBytes.map(_.length).sum + 1
    if (putVarint(hdrLen.toLong).length + typeBytes.map(_.length).sum != hdrLen)
      hdrLen = putVarint(hdrLen.toLong + 1).length + typeBytes.map(_.length).sum
    val out = new java.io.ByteArrayOutputStream()
    out.write(putVarint(hdrLen.toLong))
    typeBytes.foreach(out.write)
    bodies.foreach(out.write)
    out.toByteArray
  }

  // ---------- value ordering (spec §"Record Sort Order") ----------

  /** SQLite value comparison under BINARY collation: NULL < numeric
    * (INTEGER and REAL compare numerically across storage classes) <
    * TEXT (UTF-8 byte order) < BLOB (unsigned memcmp). */
  private[graft] def sqliteCompare(a: Any, b: Any): Int = {
    def rank(v: Any): Int = v match {
      case null => 0
      case _: Long | _: Double => 1
      case _: String => 2
      case _: Array[Byte] => 3
    }
    val (ra, rb) = (rank(a), rank(b))
    if (ra != rb) return Integer.compare(ra, rb)
    (a, b) match {
      case (null, null) => 0
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
      case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) =>
        memcmp(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      case (x: Array[Byte], y: Array[Byte]) => memcmp(x, y)
      case _ => throw new IllegalStateException("unreachable")
    }
  }

  /** Lexicographic comparison of a decoded index record's LEADING columns
    * against a (possibly prefix) key bound: compares exactly
    * `bound.length` columns, so a 1-column bound against a 3-column
    * composite index yields prefix-range semantics (every full key
    * sharing the prefix compares equal). */
  private[graft] def comparePrefix(rec: Array[Any], bound: Seq[Any]): Int = {
    var i = 0
    while (i < bound.length) {
      val c = sqliteCompare(rec(i), bound(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  private def memcmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = Integer.compare(a(i) & 0xFF, b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  // ---------- reading ----------

  private class PageFile(path: String) extends AutoCloseable {
    private val raf = new java.io.RandomAccessFile(path, "r")
    val header = new Array[Byte](100)
    raf.seek(0); raf.readFully(header)
    require(java.util.Arrays.equals(header.take(16), Magic),
      s"$path is not a SQLite database (bad magic)")
    val pageSize: Int = { val v = u16(header, 16); if (v == 1) 65536 else v }
    val reserved: Int = u8(header, 20)
    val usable: Int = pageSize - reserved
    require(u32(header, 56) == 1, "only UTF-8 SQLite databases are supported")
    def page(n: Int): Array[Byte] = {
      val b = new Array[Byte](pageSize)
      raf.seek((n - 1).toLong * pageSize); raf.readFully(b)
      b
    }
    override def close(): Unit = raf.close()
  }

  /** Walk a table b-tree from `root`, returning its LEAF page numbers in
    * key order. Touches only interior pages. */
  private def leafPages(f: PageFile, root: Int): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    def walk(pg: Int): Unit = {
      val b = f.page(pg)
      val base = if (pg == 1) 100 else 0
      u8(b, base) match {
        case 13 => out += pg
        case 5 =>
          val nCells = u16(b, base + 3)
          val ptrs = (0 until nCells).map(i => u16(b, base + 12 + 2 * i))
          ptrs.foreach(p => walk(u32(b, p).toInt))
          walk(u32(b, base + 8).toInt) // right-most pointer
        case t => throw new IllegalStateException(s"page $pg: not a table b-tree page (type $t)")
      }
    }
    walk(root)
    out.toSeq
  }

  /** Decode every row of one LEAF page: (rowid, values). Follows overflow
    * chains through `f`. */
  private def leafRows(f: PageFile, pg: Int): Seq[(Long, Array[Any])] = {
    val b = f.page(pg)
    val base = if (pg == 1) 100 else 0
    require(u8(b, base) == 13, s"page $pg is not a table leaf")
    val nCells = u16(b, base + 3)
    (0 until nCells).map { i =>
      tableCellRow(f, b, u16(b, base + 8 + 2 * i))
    }
  }

  /** Decode ONE table-leaf cell at `off`: (rowid, values), following any
    * overflow chain. */
  private def tableCellRow(f: PageFile, b: Array[Byte], off: Int): (Long, Array[Any]) = {
    val u = f.usable
    val x = u - 35
    val m = ((u - 12) * 32 / 255) - 23
    val (payLen, n1) = varint(b, off)
    val (rowid, n2) = varint(b, off + n1)
    val cursor = off + n1 + n2
    val p = payLen.toInt
    val local = if (p <= x) p else { val k = m + (p - m) % (u - 4); if (k <= x) k else m }
    val payload = new Array[Byte](p)
    System.arraycopy(b, cursor, payload, 0, local)
    if (local < p) {
      var next = u32(b, cursor + local).toInt
      var got = local
      while (next != 0 && got < p) {
        val ob = f.page(next)
        val take = math.min(u - 4, p - got)
        System.arraycopy(ob, 4, payload, got, take)
        got += take
        next = u32(ob, 0).toInt
      }
      require(got == p, "overflow chain truncated")
    }
    (rowid, decodeRecord(payload))
  }

  /** Extract one INDEX cell's payload record starting at `off` (past the
    * child pointer for interior cells): payload-length varint + local
    * payload + overflow chain. Index pages use the X = ((U-12)*64/255)-23
    * local-payload threshold (spec §"B-tree Pages"), not the table-leaf
    * U-35. */
  private def indexCellPayload(f: PageFile, b: Array[Byte], off: Int): Array[Byte] = {
    val u = f.usable
    val x = ((u - 12) * 64 / 255) - 23
    val m = ((u - 12) * 32 / 255) - 23
    val (payLen, n1) = varint(b, off)
    val p = payLen.toInt
    val cursor = off + n1
    val local = if (p <= x) p else { val k = m + (p - m) % (u - 4); if (k <= x) k else m }
    val payload = new Array[Byte](p)
    System.arraycopy(b, cursor, payload, 0, local)
    if (local < p) {
      var next = u32(b, cursor + local).toInt
      var got = local
      while (next != 0 && got < p) {
        val ob = f.page(next)
        val take = math.min(u - 4, p - got)
        System.arraycopy(ob, 4, payload, got, take)
        got += take
        next = u32(ob, 0).toInt
      }
      require(got == p, "index overflow chain truncated")
    }
    payload
  }

  /** Walk an index b-tree emitting every entry whose leading columns
    * equal `key` (a full or PREFIX composite key) — the degenerate
    * [lo, hi] window of [[indexRangeRowids]]. */
  private def indexSeekRowids(f: PageFile, root: Int, key: Seq[Any]): Seq[Long] =
    indexRangeRowids(f, root, key, key)

  /** Ordered RANGE scan of an index b-tree: rowids of every entry whose
    * leading columns fall in [lo, hi] (inclusive, SQLite value order,
    * lexicographic over the bound's columns — `lo`/`hi` may be a PREFIX
    * of a composite key), emitted in key order. Same pruned in-order walk
    * as [[indexSeekRowids]]: subtrees entirely below `lo` or above `hi`
    * are never paged in. */
  private def indexRangeRowids(f: PageFile, root: Int,
                               lo: Seq[Any], hi: Seq[Any]): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    def walk(pg: Int): Boolean = {
      val b = f.page(pg)
      val base = if (pg == 1) 100 else 0
      val nCells = u16(b, base + 3)
      u8(b, base) match {
        case 10 =>
          var i = 0
          while (i < nCells) {
            val off = u16(b, base + 8 + 2 * i)
            val rec = decodeRecord(indexCellPayload(f, b, off))
            if (comparePrefix(rec, hi) > 0) return false
            if (comparePrefix(rec, lo) >= 0)
              out += rec(rec.length - 1).asInstanceOf[Long]
            i += 1
          }
          true
        case 2 =>
          var i = 0
          while (i < nCells) {
            val off = u16(b, base + 12 + 2 * i)
            val child = u32(b, off).toInt
            val rec = decodeRecord(indexCellPayload(f, b, off + 4))
            if (comparePrefix(rec, lo) >= 0) { // child may overlap [lo, hi]
              if (!walk(child)) return false
            }
            if (comparePrefix(rec, hi) > 0) return false
            if (comparePrefix(rec, lo) >= 0)
              out += rec(rec.length - 1).asInstanceOf[Long]
            i += 1
          }
          walk(u32(b, base + 8).toInt)
        case t => throw new IllegalStateException(s"page $pg: not an index b-tree page (type $t)")
      }
    }
    walk(root)
    out.toSeq
  }

  /** Point-read one row from a TABLE b-tree by rowid (log-depth descent
    * through interior maxRowid separators). */
  private def rowidSeek(f: PageFile, root: Int, rowid: Long): Option[Array[Any]] = {
    var pg = root
    while (true) {
      val b = f.page(pg)
      val base = if (pg == 1) 100 else 0
      val nCells = u16(b, base + 3)
      u8(b, base) match {
        case 5 =>
          var i = 0
          var next = u32(b, base + 8).toLong.toInt // default: right-most
          var found = false
          while (i < nCells && !found) {
            val off = u16(b, base + 12 + 2 * i)
            val (maxRowid, _) = varint(b, off + 4)
            if (rowid <= maxRowid) { next = u32(b, off).toInt; found = true }
            i += 1
          }
          pg = next
        case 13 =>
          // binary search the cell-pointer array decoding ONLY the two
          // leading varints per probe; the full record (and any overflow
          // pages) decode once, for the hit
          var lo = 0
          var hi = nCells - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            val off = u16(b, base + 8 + 2 * mid)
            val (_, n1) = varint(b, off)
            val (rid, _) = varint(b, off + n1)
            if (rid == rowid) return Some(tableCellRow(f, b, off)._2)
            else if (rid < rowid) lo = mid + 1
            else hi = mid - 1
          }
          return None
        case t => throw new IllegalStateException(s"page $pg: not a table b-tree page (type $t)")
      }
    }
    None // unreachable
  }

  /** Decode every entry record of one INDEX LEAF page (type 10). */
  private def indexLeafRows(f: PageFile, pg: Int): Seq[Array[Any]] = {
    val b = f.page(pg)
    val base = if (pg == 1) 100 else 0
    require(u8(b, base) == 10, s"page $pg is not an index leaf")
    val nCells = u16(b, base + 3)
    (0 until nCells).map { i =>
      val off = u16(b, base + 8 + 2 * i)
      decodeRecord(indexCellPayload(f, b, off))
    }
  }

  /** Walk an index b-tree: returns (leaf page numbers in key order, the
    * interior-resident entry records in key order). Index b-trees are
    * true b-trees, so interior separators ARE entries and must be
    * surfaced alongside the leaves; they are one-per-leaf-boundary, so
    * the driver-side list stays ~1/fanout of the data. */
  private def indexLeafPagesAndInteriorRows(
      f: PageFile, root: Int): (Seq[Int], Seq[Array[Any]]) = {
    val leaves = scala.collection.mutable.ArrayBuffer[Int]()
    val interior = scala.collection.mutable.ArrayBuffer[Array[Any]]()
    def walk(pg: Int): Unit = {
      val b = f.page(pg)
      val base = if (pg == 1) 100 else 0
      val nCells = u16(b, base + 3)
      u8(b, base) match {
        case 10 => leaves += pg
        case 2 =>
          (0 until nCells).foreach { i =>
            val off = u16(b, base + 12 + 2 * i)
            walk(u32(b, off).toInt)
            interior += decodeRecord(indexCellPayload(f, b, off + 4))
          }
          walk(u32(b, base + 8).toInt)
        case t => throw new IllegalStateException(s"page $pg: not an index b-tree page (type $t)")
      }
    }
    walk(root)
    (leaves.toSeq, interior.toSeq)
  }

  /** PRIMARY KEY column names, in PK order, from a CREATE TABLE: either
    * one column-level `PRIMARY KEY` or a table-level
    * `PRIMARY KEY (a, b, ...)` constraint. */
  private[graft] def parsePrimaryKey(sql: String): Seq[String] = {
    val body = sql.substring(sql.indexOf('(') + 1, sql.lastIndexOf(')'))
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; val cur = new StringBuilder
    body.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    val defs = parts.toSeq.map(_.trim).filter(_.nonEmpty)
    // table-level clause, optionally named: [CONSTRAINT <name>] PRIMARY KEY (...)
    val tableLevel = defs.find(_.toUpperCase.matches(
      "(?s)(CONSTRAINT\\s+\\S+\\s+)?PRIMARY\\s+KEY\\s*\\(.*"))
    tableLevel match {
      case Some(c) =>
        val inner = c.substring(c.indexOf('(') + 1, c.lastIndexOf(')'))
        inner.split(',').toSeq.map(_.trim
          .replaceAll("""(?i)\s+(ASC|DESC)$""", "")
          .replaceAll("""^["`\[]|["`\]]$""", ""))
      case None =>
        parseColumns(sql).collect {
          case (n, d) if d.split("[\\s(]+").containsSlice(Seq("PRIMARY", "KEY")) => n
        }
    }
  }

  /** (indexName, tableName, rootpage, createSql) for every index. */
  def indexes(path: String): Seq[(String, String, Int, String)] = {
    val f = new PageFile(path)
    try leafPages(f, 1).flatMap(pg => leafRows(f, pg)).flatMap { case (_, v) =>
      if (v.length >= 5 && v(0) == "index" && v(4) != null)
        Some((v(1).asInstanceOf[String], v(2).asInstanceOf[String],
          v(3).asInstanceOf[Long].toInt, v(4).asInstanceOf[String]))
      else None
    } finally f.close()
  }

  /** Index-backed filtered read: for each value in `values`, seek the
    * matching rowids through `table`'s index on `column` and point-read
    * the rows — the pushdown shape of the reference's database connectors
    * (log-depth page touches per key instead of a full scan). Convenience
    * over [[readIndexedMulti]]. */
  def readIndexed(spark: SparkSession, path: String, table: String,
                  column: String, values: Seq[Any]): DataFrame =
    readIndexedMulti(spark, path, table, Seq(column), values.map(Seq(_)))

  /** [[readIndexed]] over a COMPOSITE key: each entry of `keys` is a
    * tuple of values for the leading `columns` of a (possibly wider)
    * index — a PREFIX tuple matches every full key that extends it.
    * Keys fan out one Spark task per tuple; each task opens its own
    * PageFile (closed via task-completion listener). */
  def readIndexedMulti(spark: SparkSession, path: String, table: String,
                       columns: Seq[String], keys: Seq[Seq[Any]]): DataFrame = {
    val (root, schema, ipk, indexRoot) = indexedMeta(path, table, columns)
    require(keys.forall(_.length == columns.length),
      "every key tuple must have one value per requested column")
    val types = schema.fields.map(_.dataType)
    val stored = keys.map(_.map(toStored))
    val rows = spark.sparkContext
      .parallelize(stored, math.min(math.max(stored.size, 1), 32))
      .mapPartitions { vs =>
        val f = new PageFile(path)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => f.close()))
        vs.flatMap { v =>
          indexSeekRowids(f, indexRoot, v).flatMap { rid =>
            rowidSeek(f, root, rid).map { vals =>
              Row.fromSeq(types.indices.map { i =>
                if (i == ipk) rid
                else coerce(if (i < vals.length) vals(i) else null, types(i))
              })
            }
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Index-backed ORDERED RANGE read: every row whose indexed `column`
    * falls in [lo, hi] (SQLite value order, inclusive). Convenience over
    * [[readIndexedRangeMulti]]. */
  def readIndexedRange(spark: SparkSession, path: String, table: String,
                       column: String, lo: Any, hi: Any): DataFrame =
    readIndexedRangeMulti(spark, path, table, Seq(column), Seq(lo), Seq(hi))

  /** [[readIndexedRange]] over a COMPOSITE key: rows whose leading index
    * columns fall in the LEXICOGRAPHIC window [lo, hi] (inclusive; the
    * bounds may be a PREFIX of the index's columns — a 1-column bound on
    * a 2-column index gives the classic leading-column range). The driver
    * walks only index pages (pruned — ~range-size/fanout page touches);
    * the matching rowids then fan out to executor tasks that point-read
    * the table b-tree, sorted by rowid for page locality. */
  def readIndexedRangeMulti(spark: SparkSession, path: String, table: String,
                            columns: Seq[String], lo: Seq[Any],
                            hi: Seq[Any]): DataFrame = {
    val (root, schema, ipk, indexRoot) = indexedMeta(path, table, columns)
    require(lo.length <= columns.length && lo.length == hi.length,
      "range bounds must cover the same (prefix of the) requested columns")
    val types = schema.fields.map(_.dataType)
    val rowids = {
      val f = new PageFile(path)
      try indexRangeRowids(f, indexRoot, lo.map(toStored), hi.map(toStored)).sorted
      finally f.close()
    }
    val rows = spark.sparkContext
      .parallelize(rowids, math.min(math.max(rowids.size / 256, 1), 32))
      .mapPartitions { rids =>
        val f = new PageFile(path)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => f.close()))
        rids.flatMap { rid =>
          rowidSeek(f, root, rid).map { vals =>
            Row.fromSeq(types.indices.map { i =>
              if (i == ipk) rid
              else coerce(if (i < vals.length) vals(i) else null, types(i))
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** Column names of a CREATE INDEX statement, unquoted, in order. */
  private[graft] def parseIndexColumns(createSql: String): Seq[String] = {
    val open = createSql.indexOf('(')
    val close = createSql.lastIndexOf(')')
    require(open >= 0 && close > open, s"unparseable index DDL: $createSql")
    createSql.substring(open + 1, close).split(",").toSeq
      .map { spec =>
        val toks = spec.trim.split("\\s+").toSeq
        val name = toks.head.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`").stripPrefix("[").stripSuffix("]")
        val mods = toks.tail.map(_.toUpperCase)
        // DESC / COLLATE change the b-tree key order away from the
        // binary-ascending order our seeks and range walks assume; such
        // a column must never satisfy a prefix match, so it keeps its
        // modifier behind a separator no real column name can contain
        if (mods.isEmpty || mods == Seq("ASC")) name
        else name + " " + mods.mkString(" ")
      }
      .filter(_.nonEmpty)
  }

  /** (tableRoot, schema, rowid-alias position, indexRoot) for a table
    * with an index whose LEADING columns are `columns` (an exact
    * single/composite index or any wider index sharing the prefix —
    * leading-column seeks through a wider index are complete). */
  private def indexedMeta(path: String, table: String,
                          columns: Seq[String]): (Int, StructType, Int, Int) = {
    require(columns.nonEmpty, "need at least one index column")
    val (root, sql) = tables(path).find(_._1 == table)
      .map(t => (t._2, t._3))
      .getOrElse(throw new IllegalArgumentException(s"no table '$table' in $path"))
    val cols = parseColumns(sql)
    val schema = StructType(cols.map { case (n, d) => StructField(n, affinity(d), nullable = true) })
    val ipk = rowidAliasIndex(cols, sql)
    columns.foreach(c =>
      require(cols.exists(_._1 == c), s"no column '$c' in $table"))
    val want = columns.map(_.toUpperCase)
    val indexRoot = indexes(path).collectFirst {
      // a PARTIAL index (… WHERE …) only covers a subset — selecting one
      // would silently drop rows from the keyed read
      case (_, t, r, isql) if t == table &&
        parseIndexColumns(isql).map(_.toUpperCase).startsWith(want) &&
        !isql.toUpperCase.matches("""(?s).*\)\s*WHERE\s.*""") => r
    }.getOrElse(throw new IllegalArgumentException(
      s"no complete index with leading columns (${columns.mkString(", ")}) on $table"))
    (root, schema, ipk, indexRoot)
  }

  /** (name, rootpage, createSql) for every table in the database. */
  def tables(path: String): Seq[(String, Int, String)] = {
    val f = new PageFile(path)
    try leafPages(f, 1).flatMap(pg => leafRows(f, pg)).flatMap { case (_, v) =>
      if (v.length >= 5 && v(0) == "table")
        Some((v(1).asInstanceOf[String], v(3).asInstanceOf[Long].toInt,
          v(4).asInstanceOf[String]))
      else None
    } finally f.close()
  }

  /** Column (name, declaredType) pairs parsed from a CREATE TABLE
    * statement (the subset this writer emits plus common external forms:
    * no table constraints beyond column-level PRIMARY KEY). */
  private[graft] def parseColumns(sql: String): Seq[(String, String)] = {
    val body = sql.substring(sql.indexOf('(') + 1, sql.lastIndexOf(')'))
    // split on top-level commas (parens can nest in e.g. VARCHAR(10))
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; val cur = new StringBuilder
    body.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    // table-level constraint clauses are not columns
    val constraintStart = Set("PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT")
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
      .filterNot(d => constraintStart.contains(
        d.split("[\\s(]+").headOption.getOrElse("").toUpperCase))
      .map { colDef =>
      val unquoted = colDef.replaceAll("^[\"`\\[]", "")
      val name = unquoted.takeWhile(c => !c.isWhitespace && c != '"' && c != '`' && c != ']')
      // drop the name AND its closing quote — a leftover quote glued to
      // the declaration would break exact-token rules like isRowidAlias
      val decl = colDef.drop(colDef.indexOf(name) + name.length)
        .replaceAll("^[\"`\\]]", "").trim.toUpperCase
      (name, decl)
    }
  }

  /** Rowid-alias test per spec §2.1, on a column's UPPERCASED
    * declaration remainder (everything after the name): the declared type
    * must be exactly the single token INTEGER (a 'UNSIGNED INTEGER'
    * column has plain INT affinity and stores its own values), there must
    * be a column-level PRIMARY KEY, and its sort order must be ASC or
    * unstated — 'INTEGER PRIMARY KEY DESC' is NOT an alias. Substring
    * matching here would make the reader discard a real stored column and
    * substitute the rowid on externally-written tables. */
  private[graft] def isRowidAlias(declUpper: String): Boolean = {
    val constraintKw = Set("CONSTRAINT", "PRIMARY", "NOT", "NULL", "UNIQUE",
      "CHECK", "DEFAULT", "COLLATE", "REFERENCES", "GENERATED", "AS")
    val toks = declUpper.split("[\\s(]+").filter(_.nonEmpty).toSeq
    val typeToks = toks.takeWhile(t => !constraintKw.contains(t))
    val pk = toks.indexOfSlice(Seq("PRIMARY", "KEY"))
    typeToks == Seq("INTEGER") && pk >= 0 && !toks.lift(pk + 2).contains("DESC")
  }

  /** Rowid-alias column position (spec §2.1), or -1: either a
    * column-level `INTEGER PRIMARY KEY [ASC]`, or a single-column
    * table-level `PRIMARY KEY(x)` naming a column whose declared type is
    * exactly INTEGER (per spec the table-level form aliases regardless of
    * ASC/DESC — only the column-level DESC form is excepted). Its record
    * slot is NULL on disk and the true value is the cell's rowid. */
  private def rowidAliasIndex(cols: Seq[(String, String)], sql: String): Int = {
    val colLevel = cols.indexWhere(c => isRowidAlias(c._2))
    if (colLevel >= 0) colLevel
    else parsePrimaryKey(sql) match {
      case Seq(pk) =>
        cols.indexWhere { case (n, d) =>
          n.equalsIgnoreCase(pk) &&
            d.split("[\\s(]+").filter(_.nonEmpty).headOption.contains("INTEGER") &&
            // only if the PK came from a TABLE-LEVEL clause (a column-level
            // PRIMARY KEY already went through isRowidAlias, which rejects
            // DESC and non-exact types)
            !d.split("[\\s(]+").containsSlice(Seq("PRIMARY", "KEY"))
        }
      case _ => -1
    }
  }

  /** SQLite type-affinity rules (spec §3.1): the declared type maps to a
    * Spark column type. */
  private def affinity(decl: String): DataType =
    if (decl.contains("INT")) LongType
    else if (decl.contains("CHAR") || decl.contains("CLOB") || decl.contains("TEXT")) StringType
    else if (decl.isEmpty || decl.contains("BLOB")) BinaryType
    else if (decl.contains("REAL") || decl.contains("FLOA") || decl.contains("DOUB")) DoubleType
    else StringType // NUMERIC affinity: render exactly as stored

  private def coerce(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (v: Long, LongType) => v
    case (v: Long, DoubleType) => v.toDouble
    case (v: Double, DoubleType) => v
    case (v: Double, LongType) => if (v == v.toLong.toDouble) v.toLong else null
    case (v: String, StringType) => v
    case (v: Long, StringType) => v.toString
    case (v: Double, StringType) => v.toString
    case (v: Array[Byte], BinaryType) => v
    case _ => null
  }

  /** Read one table as a DataFrame. The driver walks interior pages only;
    * leaf pages decode in parallel on executors. WITHOUT ROWID tables
    * (stored as index b-trees with PRIMARY KEY columns leading each
    * record, spec §2.2) are remapped back to declared column order. */
  def read(spark: SparkSession, path: String, table: String): DataFrame = {
    val (root, sql) = tables(path).find(_._1 == table)
      .map(t => (t._2, t._3))
      .getOrElse(throw new IllegalArgumentException(s"no table '$table' in $path"))
    if (sql.toUpperCase.replaceAll("\\s+", " ").trim.endsWith("WITHOUT ROWID"))
      return readWithoutRowid(spark, path, root, sql)
    val cols = parseColumns(sql)
    val schema = StructType(cols.map { case (n, d) => StructField(n, affinity(d), nullable = true) })
    val ipk = rowidAliasIndex(cols, sql)
    val leaves = { val f = new PageFile(path); try leafPages(f, root) finally f.close() }
    val types = schema.fields.map(_.dataType)
    val rows = spark.sparkContext
      .parallelize(leaves, math.min(leaves.size, 32).max(1))
      .mapPartitions { pgs =>
        val f = new PageFile(path)
        // the completion listener is the authoritative close: an
        // exhaustion-only hook leaks the file handle on limit/take, task
        // failure, or any short-circuited downstream (RandomAccessFile
        // close is idempotent, so the drain close below stays as a
        // fast-path for fully-consumed partitions)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => f.close()))
        val it = pgs.flatMap { pg =>
          leafRows(f, pg).map { case (rowid, vals) =>
            Row.fromSeq(types.indices.map { i =>
              if (i == ipk) rowid
              else coerce(if (i < vals.length) vals(i) else null, types(i))
            })
          }
        }
        new Iterator[Row] { // close the file when the partition drains
          def hasNext: Boolean = { val h = it.hasNext; if (!h) f.close(); h }
          def next(): Row = it.next()
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** WITHOUT ROWID reader: the table root is an INDEX b-tree whose
    * records hold the PRIMARY KEY columns first, then the remaining
    * columns in declared order (spec §2.2). Leaf pages decode on
    * executors; the interior-resident entries (one per leaf boundary)
    * come along as one extra slice. */
  private def readWithoutRowid(spark: SparkSession, path: String,
                               root: Int, sql: String): DataFrame = {
    val cols = parseColumns(sql)
    val schema = StructType(cols.map { case (n, d) => StructField(n, affinity(d), nullable = true) })
    val pk = parsePrimaryKey(sql)
    require(pk.nonEmpty, s"WITHOUT ROWID table lacks a parsable PRIMARY KEY: $sql")
    val names = cols.map(_._1)
    // record position of declared column i: PK columns lead in PK order.
    // SQLite identifiers are case-insensitive — resolve the PK references
    // back to the declared spellings before building the order.
    val pkResolved = pk.map(p => names.find(_.equalsIgnoreCase(p)).getOrElse(
      throw new IllegalArgumentException(s"PRIMARY KEY names unknown column '$p' in: $sql")))
    val recordOrder = pkResolved ++ names.filterNot(n => pkResolved.exists(_.equalsIgnoreCase(n)))
    val posOf: Array[Int] = names.map(recordOrder.indexOf).toArray
    val types = schema.fields.map(_.dataType)
    def remap(rec: Array[Any]): Row =
      Row.fromSeq(types.indices.map { i =>
        val p = posOf(i)
        coerce(if (p < rec.length) rec(p) else null, types(i))
      })
    val (leaves, interiorRows) = {
      val f = new PageFile(path)
      try indexLeafPagesAndInteriorRows(f, root) finally f.close()
    }
    val leafRdd = spark.sparkContext
      .parallelize(leaves, math.min(math.max(leaves.size, 1), 32))
      .mapPartitions { pgs =>
        val f = new PageFile(path)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => f.close()))
        pgs.flatMap(pg => indexLeafRows(f, pg).map(remap))
      }
    val intRdd = spark.sparkContext.parallelize(interiorRows.map(remap), 1)
    spark.createDataFrame(leafRdd.union(intRdd), schema)
  }

  // ---------- writing ----------

  private def sqlType(t: DataType): String = t match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case StringType => "TEXT"
    case BinaryType => "BLOB"
    case other => throw new IllegalArgumentException(s"unsupported SQLite column type $other")
  }

  private def toStored(v: Any): Any = v match {
    case null => null
    case b: Boolean => if (b) 1L else 0L
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case s: String => s
    case b: Array[Byte] => b
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** (pageNo, maxRowid) of a finished subtree node — the interior key. */
  /** Bounded-memory (key, rowid) sorter for index builds: 1M-pair chunks
    * sort in memory and spill to temp files as length-prefixed encoded
    * records; `sortedRecords()` k-way merges the spills in SQLite record
    * order. Keeps the writer's bounded-memory contract — an indexed write
    * of any size holds one chunk plus one head record per spill. */
  private class RecordSorter {
    private val chunkSize = 1 << 20
    private val buf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    private val spills = scala.collection.mutable.ArrayBuffer[java.io.File]()
    // element-wise SQLite record order over the WHOLE value list: for
    // index entries that is (key columns..., rowid); for WITHOUT ROWID
    // rows it is (PK columns..., remaining columns) — in both, the
    // leading columns dominate and the tail only breaks ties
    private def lt(a: Seq[Any], b: Seq[Any]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = sqliteCompare(a(i), b(i))
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    def add(vals: Seq[Any]): Unit = {
      buf += vals
      if (buf.size >= chunkSize) spill()
    }
    private def spill(): Unit = {
      val f = java.io.File.createTempFile("graft_idx_", ".spill")
      f.deleteOnExit()
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(f), 1 << 16))
      try buf.sortWith(lt).foreach { vals =>
        val rec = encodeRecord(vals)
        out.writeInt(rec.length); out.write(rec)
      } finally out.close()
      spills += f
      buf.clear()
    }
    def sortedRecords(): Iterator[Array[Byte]] = {
      if (spills.isEmpty)
        return buf.sortWith(lt).iterator.map(encodeRecord)
      spill() // flush the tail chunk so the merge sees everything
      final class Stream(f: java.io.File) {
        private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(f), 1 << 16))
        var head: Array[Byte] = _
        var key: Seq[Any] = _
        advance()
        def advance(): Unit =
          try {
            val len = in.readInt()
            head = new Array[Byte](len); in.readFully(head)
            val d = decodeRecord(head)
            key = d.toSeq
          } catch {
            case _: java.io.EOFException => head = null; in.close(); f.delete()
          }
      }
      val heap = new java.util.PriorityQueue[Stream](spills.size,
        (a: Stream, b: Stream) => if (lt(a.key, b.key)) -1 else if (lt(b.key, a.key)) 1 else 0)
      spills.foreach { f => val s = new Stream(f); if (s.head != null) heap.add(s) }
      new Iterator[Array[Byte]] {
        def hasNext: Boolean = !heap.isEmpty
        def next(): Array[Byte] = {
          val s = heap.poll()
          val rec = s.head
          s.advance()
          if (s.head != null) heap.add(s)
          rec
        }
      }
    }
  }

  private case class Child(no: Int, maxRowid: Long)

  /** Disk-backed page store + streaming b-tree builder: finished pages
    * write straight to the file (one seek per page), so writer memory is
    * ONE page buffer + one (pageNo, maxRowid) pair per finished leaf —
    * bounded regardless of table size. Page 1 is allocated first and
    * written last (the sqlite_master catalog needs the final root/page
    * numbers). */
  private class DbBuilder(path: String, val pageSize: Int = 4096) extends AutoCloseable {
    val usable: Int = pageSize
    private val raf = new java.io.RandomAccessFile(path, "rw")
    raf.setLength(0)
    private var nPages = 0
    def allocate(): Int = { nPages += 1; nPages }
    def set(no: Int, b: Array[Byte]): Unit = {
      require(b.length == pageSize, s"page image must be $pageSize bytes")
      raf.seek((no - 1).toLong * pageSize); raf.write(b)
    }
    def pageCount: Int = nPages
    override def close(): Unit = raf.close()

    private def w16(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = ((v >> 8) & 0xFF).toByte; b(o + 1) = (v & 0xFF).toByte
    }
    private def w32(b: Array[Byte], o: Int, v: Long): Unit = {
      b(o) = ((v >> 24) & 0xFF).toByte; b(o + 1) = ((v >> 16) & 0xFF).toByte
      b(o + 2) = ((v >> 8) & 0xFF).toByte; b(o + 3) = (v & 0xFF).toByte
    }

    /** Stream (rowid, record) cells into a table b-tree: leaves flush to
      * disk as they fill, then interior levels build over the (pageNo,
      * maxRowid) skeleton. Returns the root page number. (sqlite_master —
      * whose root must be page 1 — is built by hand in [[write]].) */
    def buildTree(cells: Iterator[(Long, Array[Byte])]): Int = {
      val x = usable - 35
      val m = ((usable - 12) * 32 / 255) - 23
      val leaves = scala.collection.mutable.ArrayBuffer[Child]()
      val pending = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
      var pendingBytes = 0
      def flushLeaf(): Unit = {
        val no = allocate()
        val b = new Array[Byte](pageSize)
        b(0) = 13
        w16(b, 1, 0)
        w16(b, 3, pending.size)
        b(7) = 0
        var content = pageSize
        pending.zipWithIndex.foreach { case ((_, cell), j) =>
          content -= cell.length
          w16(b, 8 + 2 * j, content)
          System.arraycopy(cell, 0, b, content, cell.length)
        }
        w16(b, 5, if (pending.isEmpty) pageSize & 0xFFFF else content)
        set(no, b)
        leaves += Child(no, if (pending.isEmpty) 0L else pending.last._1)
        pending.clear(); pendingBytes = 0
      }
      while (cells.hasNext) {
        val (rowid, rec) = cells.next()
        val p = rec.length
        val pre = putVarint(p.toLong) ++ putVarint(rowid)
        val cell =
          if (p <= x) pre ++ rec
          else { // spill: overflow chain pages write out inline
            val k = m + (p - m) % (usable - 4)
            val local = if (k <= x) k else m
            var off = local
            var firstOv = 0
            var prevPage: Array[Byte] = null
            var prevNo = 0
            while (off < p) {
              val no = allocate()
              val pg = new Array[Byte](pageSize)
              val take = math.min(usable - 4, p - off)
              System.arraycopy(rec, off, pg, 4, take)
              if (prevPage != null) { w32(prevPage, 0, no.toLong); set(prevNo, prevPage) }
              else firstOv = no
              prevPage = pg; prevNo = no
              off += take
            }
            if (prevPage != null) { w32(prevPage, 0, 0L); set(prevNo, prevPage) }
            val head = new Array[Byte](4)
            w32(head, 0, firstOv.toLong)
            pre ++ rec.take(local) ++ head
          }
        require(8 + 2 + cell.length <= pageSize,
          "cell larger than a page (after overflow spill)")
        if (pending.nonEmpty &&
          8 + 2 * (pending.size + 1) + pendingBytes + cell.length > pageSize)
          flushLeaf()
        pending += ((rowid, cell)); pendingBytes += cell.length
      }
      flushLeaf() // also emits the single empty leaf of an empty table
      var level: Seq[Child] = leaves.toVector
      while (level.size > 1) level = packInterior(level)
      level.head.no
    }

    /** Bulk-load an INDEX b-tree from entries already in SQLite record
      * order. Index b-trees are true b-trees: when a leaf fills, the NEXT
      * entry is pulled UP as the parent separator (it lives only on the
      * interior page), exactly the shape real SQLite produces. Oversized
      * entries spill to overflow chains ([[indexCell]]) — document-sized
      * payloads (WITHOUT ROWID rows) are fine. Returns the root page. */
    /** One INDEX cell (leaf form — interior callers prepend the child
      * pointer): payload-length varint + local payload, spilling past the
      * index local-payload threshold X = ((U-12)*64/255)-23 into an
      * overflow chain exactly like table cells do (spec §"B-tree Pages")
      * — so index entries (and WITHOUT ROWID rows, which live in index
      * b-trees) may be arbitrarily large. */
    private def indexCell(rec: Array[Byte]): Array[Byte] = {
      val x = ((usable - 12) * 64 / 255) - 23
      val m = ((usable - 12) * 32 / 255) - 23
      val p = rec.length
      if (p <= x) putVarint(p.toLong) ++ rec
      else {
        val k = m + (p - m) % (usable - 4)
        val local = if (k <= x) k else m
        var off = local
        var firstOv = 0
        var prevPage: Array[Byte] = null
        var prevNo = 0
        while (off < p) {
          val no = allocate()
          val pgb = new Array[Byte](pageSize)
          val take = math.min(usable - 4, p - off)
          System.arraycopy(rec, off, pgb, 4, take)
          if (prevPage != null) { w32(prevPage, 0, no.toLong); set(prevNo, prevPage) }
          else firstOv = no
          prevPage = pgb; prevNo = no
          off += take
        }
        if (prevPage != null) { w32(prevPage, 0, 0L); set(prevNo, prevPage) }
        val head = new Array[Byte](4)
        w32(head, 0, firstOv.toLong)
        putVarint(p.toLong) ++ rec.take(local) ++ head
      }
    }

    def buildIndexTree(entries: Iterator[Array[Byte]]): Int = {
      val leaves = scala.collection.mutable.ArrayBuffer[Int]()
      // separators are PREPARED CELLS (varint + local payload [+ overflow
      // pointer]) — promoting the cell, not the record, means an entry's
      // overflow chain is written exactly once and referenced exactly
      // once wherever the entry ends up (leaf or any interior level);
      // re-encoding a promoted record would orphan the chain its leaf
      // cell had already written (integrity_check: "page never used")
      val seps = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      val pending = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var pendingBytes = 0
      def flushLeaf(): Unit = {
        val no = allocate()
        val b = new Array[Byte](pageSize)
        b(0) = 10
        w16(b, 1, 0)
        w16(b, 3, pending.size)
        b(7) = 0
        var content = pageSize
        pending.zipWithIndex.foreach { case (cell, j) =>
          content -= cell.length
          w16(b, 8 + 2 * j, content)
          System.arraycopy(cell, 0, b, content, cell.length)
        }
        w16(b, 5, if (pending.isEmpty) pageSize & 0xFFFF else content)
        set(no, b)
        leaves += no
        pending.clear(); pendingBytes = 0
      }
      while (entries.hasNext) {
        val rec = entries.next()
        val cell = indexCell(rec) // spills oversized payloads to overflow pages
        if (pending.nonEmpty &&
          8 + 2 * (pending.size + 1) + pendingBytes + cell.length > pageSize) {
          if (entries.hasNext) {
            // the entry that triggered the split is pulled up as the
            // separator; it is NOT written to any leaf
            flushLeaf()
            seps += cell
          } else {
            // LAST entry: promoting it would leave an empty trailing
            // leaf (a shape real SQLite never writes), and just starting
            // a new leaf would break the leaf/separator invariant
            // (|seps| = |leaves| - 1). Keep the invariant by popping the
            // filled leaf's final entry as the promoted separator and
            // writing the triggering entry as the one-entry last leaf.
            // pending always holds >= 2 entries here: indexCell caps the
            // IN-PAGE cell at X+13 ≈ 1/4 usable page (bigger payloads
            // spill to overflow), so any leaf that overflows has >= 3.
            val sepCell = pending.remove(pending.size - 1)
            pendingBytes -= sepCell.length
            flushLeaf()
            seps += sepCell
            pending += cell; pendingBytes += cell.length
          }
        } else {
          pending += cell; pendingBytes += cell.length
        }
      }
      flushLeaf() // also emits the single empty leaf of an empty index
      var children: Seq[Int] = leaves.toVector
      var sepLevel: Seq[Array[Byte]] = seps.toVector
      while (children.size > 1) {
        val (c2, s2) = packIndexInterior(children, sepLevel)
        children = c2; sepLevel = s2
      }
      children.head
    }

    /** One interior level of an index b-tree: children with the
      * separators BETWEEN them (|seps| = |children| - 1), each separator
      * a PREPARED cell body (see [[buildIndexTree]] — its overflow chain,
      * if any, is already on disk and stays referenced wherever the cell
      * lands). Separators between pages are pulled up to the next level.
      * Page capacity is sized by the level's LARGEST cell (in-page size
      * is X+13-capped by [[indexCell]], so at least 3 fit), and a
      * trailing single-child group is rebalanced like the table path. */
    private def packIndexInterior(children: Seq[Int],
                                  seps: Seq[Array[Byte]]): (Seq[Int], Seq[Array[Byte]]) = {
      require(seps.size == children.size - 1,
        s"index level shape: ${children.size} children, ${seps.size} separators")
      val maxCell = 4 + (if (seps.isEmpty) 0 else seps.map(_.length).max)
      val perPage = math.max(2, (pageSize - 12 - 4) / (2 + maxCell))
      val grouped0 = children.grouped(perPage).toSeq
      val grouped =
        if (grouped0.length > 1 && grouped0.last.size == 1) {
          val prev = grouped0(grouped0.length - 2)
          grouped0.dropRight(2) :+ prev.dropRight(1) :+ (prev.last +: grouped0.last)
        } else grouped0
      val outChildren = scala.collection.mutable.ArrayBuffer[Int]()
      val outSeps = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var i = 0 // global index of the group's first child
      grouped.foreach { grp =>
        val no = allocate()
        val b = new Array[Byte](pageSize)
        b(0) = 2
        w16(b, 1, 0)
        b(7) = 0
        var content = pageSize
        val nCells = grp.size - 1
        (0 until nCells).foreach { j =>
          val cell = {
            val h = new Array[Byte](4); w32(h, 0, grp(j).toLong)
            h ++ seps(i + j) // prepared cell body, chain already on disk
          }
          content -= cell.length
          w16(b, 12 + 2 * j, content)
          System.arraycopy(cell, 0, b, content, cell.length)
        }
        w32(b, 8, grp.last.toLong)
        w16(b, 3, nCells)
        w16(b, 5, if (nCells == 0) pageSize & 0xFFFF else content)
        set(no, b)
        outChildren += no
        i += grp.size
        if (i < children.size) outSeps += seps(i - 1) // between-page separator moves up
      }
      (outChildren.toSeq, outSeps.toSeq)
    }

    private def packInterior(children: Seq[Child]): Seq[Child] = {
      // children in key order; the last child of each interior page
      // becomes its right-most pointer
      val out = scala.collection.mutable.ArrayBuffer[Child]()
      val perPage = math.max(2, (pageSize - 12) / 15) // worst-case 13 B cell + 2 B ptr
      // a trailing group of ONE child would emit an interior page with
      // zero cells and only a right-most pointer — a shape real SQLite
      // never writes; rebalance by stealing one child from the previous
      // group (which always has >= 2 since perPage >= 2)
      val grouped0 = children.grouped(perPage).toSeq
      val grouped =
        if (grouped0.length > 1 && grouped0.last.size == 1) {
          val prev = grouped0(grouped0.length - 2)
          grouped0.dropRight(2) :+ prev.dropRight(1) :+ (prev.last +: grouped0.last)
        } else grouped0
      grouped.foreach { grp =>
        val no = allocate()
        val b = new Array[Byte](pageSize)
        b(0) = 5
        w16(b, 1, 0)
        val cells = grp.dropRight(1)
        w16(b, 3, cells.size)
        b(7) = 0
        w32(b, 8, grp.last.no.toLong)
        var content = pageSize
        cells.zipWithIndex.foreach { case (child, j) =>
          val cell = { val h = new Array[Byte](4); w32(h, 0, child.no.toLong); h ++ putVarint(child.maxRowid) }
          content -= cell.length
          w16(b, 12 + 2 * j, content)
          System.arraycopy(cell, 0, b, content, cell.length)
        }
        w16(b, 5, content)
        set(no, b)
        out += Child(no, grp.last.maxRowid)
      }
      out.toSeq
    }
  }

  /** Write `df` as table `table` of a NEW single-file SQLite database.
    * Driver-side by design (a b-tree file is a single-node artifact — the
    * reference's SQLite sink has the same shape); memory stays bounded:
    * `toLocalIterator` pulls one partition at a time and the builder
    * flushes every finished page straight to disk. */
  def write(df: DataFrame, path: String, table: String): Unit =
    writeTables(Seq(table -> df), path)

  /** Write several tables into one NEW database file (the reference's
    * SQLite databases are multi-table catalogs). Each table's b-tree
    * streams to disk in turn; page 1's sqlite_master lists them all. */
  def writeTables(tables: Seq[(String, DataFrame)], path: String): Unit =
    writeTablesIndexed(tables.map { case (t, df) => (t, df, Seq.empty[String]) }, path)

  /** [[writeTables]] plus single-column indexes: each named column gets
    * its own index b-tree. Convenience over [[writeTablesIndexedMulti]]. */
  def writeTablesIndexed(tables: Seq[(String, DataFrame, Seq[String])],
                         path: String): Unit =
    writeTablesIndexedMulti(
      tables.map { case (t, df, cs) => (t, df, cs.map(Seq(_))) }, path)

  /** [[writeTables]] plus indexes, each over one or MORE columns: every
    * column list gets a real index b-tree (leaf type 10 / interior type
    * 2, key-columns-plus-rowid records, spec §"B-tree Pages") registered
    * in sqlite_master, so both real SQLite and [[readIndexedMulti]] /
    * [[readIndexedRangeMulti]] can do log-depth keyed reads on the
    * artifact — composite keys cover the reference connector's keyed
    * update/delete pushdown shapes (MutableData.swift:124-196). Key/rowid
    * tuples are collected while the table streams (one pass over the
    * data), then spill-sorted in SQLite record order (lexicographic
    * across the key columns, rowid last). */
  def writeTablesIndexedMulti(tables: Seq[(String, DataFrame, Seq[Seq[String]])],
                              path: String): Unit = {
    require(tables.nonEmpty, "need at least one table")
    require(tables.map(_._1).distinct.size == tables.size, "duplicate table names")
    val b = new DbBuilder(path)
    try {
      require(b.allocate() == 1) // page 1 reserved for sqlite_master
      val entries = tables.flatMap { case (table, df, idxSpecs) =>
        val fields = df.schema.fields
        val idxPos = idxSpecs.map { spec =>
          require(spec.nonEmpty, s"empty index column list for $table")
          spec.map { c =>
            val p = fields.indexWhere(_.name == c)
            require(p >= 0, s"index column '$c' not in $table"); (c, p)
          }
        }
        val cols = fields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""")
        val createSql = s"""CREATE TABLE "$table" (${cols.mkString(", ")})"""
        var rowid = 0L
        val keyLog = idxPos.map(_ => new RecordSorter)
        val rows = df.toLocalIterator()
        val cellIt = new Iterator[(Long, Array[Byte])] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Array[Byte]) = {
            rowid += 1
            val vals = rows.next().toSeq.map(toStored)
            idxPos.zipWithIndex.foreach { case (spec, k) =>
              keyLog(k).add(spec.map { case (_, p) => vals(p) } :+ rowid)
            }
            (rowid, encodeRecord(vals))
          }
        }
        val root = b.buildTree(cellIt)
        val tableRow = ("table", table, table, root, createSql)
        val idxRows = idxPos.zipWithIndex.map { case (spec, k) =>
          val indexRoot = b.buildIndexTree(keyLog(k).sortedRecords())
          val name = s"idx_${table}_${spec.map(_._1).mkString("_")}"
          ("index", name, table, indexRoot,
            s"""CREATE INDEX "$name" ON "$table" (${spec.map(c => s""""${c._1}"""").mkString(", ")})""")
        }
        tableRow +: idxRows
      }
      writeCatalog(b, entries, schemaFormat = 1)
    } finally b.close()
  }

  /** Write tables as WITHOUT ROWID tables (spec §2.2): each table is
    * stored as an INDEX b-tree whose records carry the PRIMARY KEY
    * columns first (in PK order) then the remaining columns in declared
    * order; lookups by PK are log-depth in real SQLite with no separate
    * index object. Rows are spill-sorted into PK record order; oversized
    * rows ride index-page overflow chains; NULL or duplicate PRIMARY KEY
    * values throw (the constraint real SQLite enforces). The file header
    * carries schema format 4, the minimum that admits WITHOUT ROWID. */
  def writeTablesWithoutRowid(tables: Seq[(String, DataFrame, Seq[String])],
                              path: String): Unit = {
    require(tables.nonEmpty, "need at least one table")
    require(tables.map(_._1).distinct.size == tables.size, "duplicate table names")
    val b = new DbBuilder(path)
    try {
      require(b.allocate() == 1) // page 1 reserved for sqlite_master
      val entries = tables.map { case (table, df, pk) =>
        require(pk.nonEmpty, s"WITHOUT ROWID table $table needs PRIMARY KEY columns")
        val fields = df.schema.fields
        val pkPos = pk.map { c =>
          val p = fields.indexWhere(_.name == c)
          require(p >= 0, s"PRIMARY KEY column '$c' not in $table"); p
        }
        require(pkPos.distinct.size == pkPos.size, s"duplicate PRIMARY KEY column in $table")
        val order = pkPos ++ fields.indices.filterNot(pkPos.contains)
        val cols = fields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""")
        val createSql =
          s"""CREATE TABLE "$table" (${cols.mkString(", ")}, """ +
            s"""PRIMARY KEY (${pk.map(c => s""""$c"""").mkString(", ")})) WITHOUT ROWID"""
        val sorter = new RecordSorter
        val rows = df.toLocalIterator()
        while (rows.hasNext) {
          val vals = rows.next().toSeq.map(toStored)
          pkPos.foreach(p => require(vals(p) != null,
            s"NULL PRIMARY KEY value in WITHOUT ROWID table $table"))
          sorter.add(order.map(vals))
        }
        // PK-uniqueness guard over the sorted stream: equal consecutive
        // PK prefixes mean a constraint violation real SQLite would
        // reject — corrupting silently here would poison every reader
        var prevPk: Seq[Any] = null
        val guarded = sorter.sortedRecords().map { rec =>
          val k = decodeRecord(rec).take(pk.length).toSeq
          require(prevPk == null || k.zip(prevPk).exists { case (a, c) =>
            sqliteCompare(a, c) != 0 },
            s"duplicate PRIMARY KEY ${k.mkString("(", ", ", ")")} in $table")
          prevPk = k
          rec
        }
        val root = b.buildIndexTree(guarded)
        ("table", table, table, root, createSql)
      }
      writeCatalog(b, entries, schemaFormat = 4)
    } finally b.close()
  }

  /** Page 1: the 100-byte file header + the sqlite_master leaf. */
  private def writeCatalog(b: DbBuilder,
                           entries: Seq[(String, String, String, Int, String)],
                           schemaFormat: Int): Unit = {
    val masterCells = entries.zipWithIndex.map { case ((kind, name, tbl, root, sql), i) =>
      val rec = encodeRecord(Seq(kind, name, tbl, root.toLong, sql))
      putVarint(rec.length.toLong) ++ putVarint((i + 1).toLong) ++ rec
    }
    require(100 + 8 + masterCells.map(_.length + 2).sum <= b.pageSize,
      "sqlite_master catalog too large for page 1")
    val pg = new Array[Byte](b.pageSize)
    System.arraycopy(Magic, 0, pg, 0, 16)
    pg(16) = ((b.pageSize >> 8) & 0xFF).toByte; pg(17) = (b.pageSize & 0xFF).toByte
    pg(18) = 1; pg(19) = 1 // file format read/write version: legacy
    pg(20) = 0 // reserved space per page
    pg(21) = 64; pg(22) = 32; pg(23) = 32 // payload fractions (fixed by spec)
    def h32(o: Int, v: Long): Unit = {
      pg(o) = ((v >> 24) & 0xFF).toByte; pg(o + 1) = ((v >> 16) & 0xFF).toByte
      pg(o + 2) = ((v >> 8) & 0xFF).toByte; pg(o + 3) = (v & 0xFF).toByte
    }
    h32(24, 1) // file change counter
    h32(28, b.pageCount.toLong)
    h32(40, 1) // schema cookie
    h32(44, schemaFormat.toLong) // 1 = most compatible; 4 = WITHOUT ROWID
    h32(56, 1) // text encoding: UTF-8
    h32(92, 1) // version-valid-for == change counter
    h32(96, 3045000) // sqlite version number
    pg(100) = 13
    pg(103) = ((masterCells.size >> 8) & 0xFF).toByte
    pg(104) = (masterCells.size & 0xFF).toByte
    var content = b.pageSize
    masterCells.zipWithIndex.foreach { case (cell, j) =>
      content -= cell.length
      pg(108 + 2 * j) = ((content >> 8) & 0xFF).toByte
      pg(109 + 2 * j) = (content & 0xFF).toByte
      System.arraycopy(cell, 0, pg, content, cell.length)
    }
    pg(105) = ((content >> 8) & 0xFF).toByte; pg(106) = (content & 0xFF).toByte
    pg(107) = 0
    b.set(1, pg)
  }
}
