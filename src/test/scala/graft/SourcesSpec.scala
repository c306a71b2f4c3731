package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{CsvSource, JsonSource, Crawl, ParquetWarehouse}
import graft.values.WarpLanguage
import graft.ops.WarpOps._

/** Source/sink/step tests: CSV reference semantics (CSVStream.swift:19-181),
  * JSON shape detection (JSONStream.swift:16-168), crawl plumbing
  * (QBECrawlStep.swift:16-60), warehouse mutations (MutableData.swift:40-196). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._


  test("csv: header dedup a, a_B, a_C (CSVStream.swift:64-77)") {
    val dir = tempDir("csvdup")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"),
      "a,b,a,a\n1,2,3,4\n")
    val df = CsvSource.read(spark, s"$dir/f.csv")
    assert(df.columns.toSeq == Seq("a", "b", "a_B", "a_C"))
    val r = df.collect()(0)
    assert(r.getString(0) == "1" && r.getString(3) == "4")
  }

  test("csv: no headers yields base-26 names A..Z, AA (Schema.swift:65-77)") {
    assert(CsvSource.defaultNameForIndex(0) == "A")
    assert(CsvSource.defaultNameForIndex(25) == "Z")
    assert(CsvSource.defaultNameForIndex(26) == "AA")
    val dir = tempDir("csvnh")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"), "1,2\n3,4\n")
    val df = CsvSource.read(spark, s"$dir/f.csv", hasHeaders = false)
    assert(df.columns.toSeq == Seq("A", "B"))
    assert(df.count() == 2)
  }

  test("csv: locale-aware number normalization (Language.swift:502-516)") {
    val dir = tempDir("csvnl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"),
      "v,s\n\"1.234,56\",hello\n\"7,5\",\"1.000.000\"\n")
    val df = CsvSource.read(spark, s"$dir/f.csv", locale = Some(WarpLanguage.nl))
    val rows = df.orderBy("v").collect()
    assert(rows.map(_.getString(0)).toSet == Set("1234.56", "7.5"))
    // "1.000.000" is a localized number too; "hello" passes through
    assert(rows.map(_.getString(1)).toSet == Set("hello", "1000000"))
    val typed = CsvSource.inferTyped(df)
    assert(typed.schema("v").dataType == DoubleType)
    assert(typed.schema("s").dataType == StringType)
  }

  test("csv: inferTyped keeps ids beyond 2^53 exact (direct long parse)") {
    val dir = tempDir("csvbig")
    // 9007199254740993 = 2^53+1: round-trips through double as ...992
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"),
      "id,v\n9007199254740993,1\n9223372036854775807,2\n")
    val typed = CsvSource.inferTyped(CsvSource.read(spark, s"$dir/f.csv"))
    assert(typed.schema("id").dataType == LongType)
    val ids = typed.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(9007199254740993L, Long.MaxValue))
  }

  test("csv: multi-file directory derives header from the FIRST file") {
    val dir = tempDir("csvmulti")
    // part-1 is lexicographically later and much larger — a naive limit(1)
    // over the directory scan would pick its first row (Spark packs the
    // biggest split first)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part-0.csv"),
      "a,b\n1,2\n")
    val big = new StringBuilder("a,b\n")
    (1 to 5000).foreach(i => big.append(s"$i,${i * 2}\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part-1.csv"),
      big.toString)
    val df = CsvSource.read(spark, dir)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 5001)
  }

  test("csv: NTZ timestamps write without a zone suffix (no fake UTC label)") {
    val dir = tempDir("csvntz")
    val df = Seq((1L, "2024-06-01 12:30:45")).toDF("id", "t")
      .select(col("id"), col("t").cast("timestamp_ntz").as("t"))
    CsvSource.write(df, s"$dir/out")
    val line = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/out"))
      .filter(p => p.getFileName.toString.endsWith(".csv"))
      .findFirst.get
    val rows = java.nio.file.Files.readAllLines(line)
    assert(rows.get(1).contains("2024-06-01T12:30:45"))
    assert(!rows.get(1).contains("Z"), rows.get(1)) // naive wall time stays naive
  }

  test("csv: empty cells read as empty/null") {
    val dir = tempDir("csvempty")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/f.csv"),
      "a,b\n1,\n,2\n")
    val df = CsvSource.read(spark, s"$dir/f.csv")
    val rows = df.orderBy("a").collect()
    assert(rows.exists(r => r.isNullAt(1)) && rows.exists(r => r.isNullAt(0)))
  }

  test("json: array-of-objects, single object, array-of-values, scalar (JSONStream.swift:16-168)") {
    val d1 = tempDir("json1")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d1/f.json"),
      """[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]""")
    val arrObj = JsonSource.read(spark, s"$d1/f.json")
    assert(arrObj.columns.sorted.toSeq == Seq("a", "b") && arrObj.count() == 2)

    val d2 = tempDir("json2")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d2/f.json"),
      """{"a": 7, "b": "z"}""")
    val single = JsonSource.read(spark, s"$d2/f.json")
    assert(single.count() == 1 && single.select("a").as[Long].collect()(0) == 7L)

    val d3 = tempDir("json3")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d3/f.json"),
      """[1, 2, "three"]""")
    val arrVal = JsonSource.read(spark, s"$d3/f.json")
    assert(arrVal.columns.toSeq == Seq("value"))
    assert(arrVal.as[String].collect().toSet == Set("1", "2", "three"))

    val d4 = tempDir("json4")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d4/f.json"), "42")
    val scalar = JsonSource.read(spark, s"$d4/f.json")
    assert(scalar.as[String].collect().toSeq == Seq("42"))
  }

  test("json: JSON-Lines detected and read splittable") {
    val d = tempDir("jsonl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/f.json"),
      "{\"a\": 1}\n{\"a\": 2}\n{\"a\": 3}\n")
    val df = JsonSource.read(spark, s"$d/f.json")
    assert(df.select(sum("a")).collect()(0).getLong(0) == 6L)
  }

  test("crawl: stub fetch produces status/body/time with original columns") {
    val df = Seq((1L, "https://example.invalid/a"), (2L, "https://example.invalid/b"))
      .toDF("id", "url")
    val out = Crawl.crawl(df, "url", maxConcurrency = 4, maxRps = 1000)
    val rows = out.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Int]("crawl_status") == 200))
    assert(rows.forall(_.getAs[String]("crawl_body").startsWith("stub:")))
    assert(rows(0).getAs[String]("crawl_body") != rows(1).getAs[String]("crawl_body"))
    // deterministic: same url => same body
    val again = Crawl.crawl(df, "url").orderBy("id").collect()
    assert(again(0).getAs[String]("crawl_body") == rows(0).getAs[String]("crawl_body"))
  }

  test("crawl: pluggable fetcher sees errors as rows, not failures") {
    val df = Seq((1L, "boom")).toDF("id", "url")
    val failing: Crawl.Fetcher = _ => throw new RuntimeException("no net")
    val r = Crawl.crawl(df, "url", fetcher = failing).collect()(0)
    assert(r.getAs[Int]("crawl_status") == 0)
    assert(r.getAs[String]("crawl_error").contains("no net"))
  }

  test("warehouse: create/insert/import/update/delete/alter/rename/truncate (MutableData.swift:40-196)") {
    val wh = new ParquetWarehouse(spark, tempDir("wh"))
    wh.create("t", Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v"))

    // insert: extra column discarded, missing column filled with empty
    wh.insert("t", Seq((3L, 99)).toDF("id", "junk"))
    assert(wh.read("t").count() == 3)
    assert(wh.read("t").filter(col("id") === 3 && col("name").isNull).count() == 1)

    // import with mapping
    wh.importInto("t", Seq((4L, "dd")).toDF("key", "label"),
      Map("id" -> "key", "name" -> "label"))
    assert(wh.read("t").filter(col("id") === 4 && col("name") === "dd").count() == 1)

    // update key=2: v 20.0 -> 25.0 only when old matches
    wh.update("t", Map("id" -> 2L), "v", 20.0, 25.0)
    assert(wh.read("t").filter(col("id") === 2).select("v").as[Double].collect()(0) == 25.0)
    wh.update("t", Map("id" -> 2L), "v", 999.0, 1.0) // old mismatch: no-op
    assert(wh.read("t").filter(col("id") === 2).select("v").as[Double].collect()(0) == 25.0)

    // delete by keys
    wh.deleteRows("t", Seq(Map("id" -> 1L)))
    assert(wh.read("t").filter(col("id") === 1).count() == 0)

    // alter: keep id, add flag
    wh.alter("t", StructType(Seq(
      StructField("id", LongType), StructField("flag", BooleanType))))
    assert(wh.read("t").columns.toSeq == Seq("id", "flag"))

    // rename + truncate + drop
    wh.renameColumns("t", Map("flag" -> "ok"))
    assert(wh.read("t").columns.contains("ok"))
    wh.truncate("t")
    assert(wh.read("t").count() == 0)
    wh.drop("t")
    assert(!wh.exists("t"))
  }

  test("rows-by-example keep and remove (QBERowsStep.swift:15-87)") {
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val kept = df.rowsByExample(Seq("k", "v"), Seq(Seq("a", 1), Seq("c", 3)))
    assert(kept.select("k").as[String].collect().sorted.toSeq == Seq("a", "c"))
    val removed = df.rowsByExample(Seq("k", "v"), Seq(Seq("a", 1)), keep = false)
    assert(removed.select("k").as[String].collect().sorted.toSeq == Seq("b", "c"))
  }

  test("dbf: reads dBase III records with typed fields (DBFStream.swift:132)") {
    // hand-build a DBF: fields NAME C(8), QTY N(5,0), PRICE N(8,2), OK L(1)
    val fields = Seq(("NAME", 'C', 8, 0), ("QTY", 'N', 5, 0), ("PRICE", 'N', 8, 2), ("OK", 'L', 1, 0))
    val recordSize = 1 + fields.map(_._3).sum
    val headerSize = 32 + fields.size * 32 + 1
    val records = Seq(
      Seq("ALPHA   ", "   12", "   10.50", "T"),
      Seq("BETA    ", "    7", "    2.25", "F"))
    val buf = java.nio.ByteBuffer.allocate(headerSize + records.size * recordSize + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(0x03.toByte).put(Array[Byte](24, 1, 1)) // version, last-update
    buf.putInt(records.size).putShort(headerSize.toShort).putShort(recordSize.toShort)
    buf.position(32)
    fields.foreach { case (name, t, len, dec) =>
      val fd = new Array[Byte](32)
      name.getBytes("ASCII").copyToArray(fd)
      fd(11) = t.toByte; fd(16) = len.toByte; fd(17) = dec.toByte
      buf.put(fd)
    }
    buf.put(0x0D.toByte)
    records.foreach { r =>
      buf.put(' '.toByte) // active record
      r.foreach(v => buf.put(v.getBytes("ASCII")))
    }
    buf.put(0x1A.toByte)
    val path = tempDir("dbf") + "/t.dbf"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), buf.array())

    val df = graft.sources.DbfSource.read(spark, path)
    assert(df.columns.toSeq == Seq("NAME", "QTY", "PRICE", "OK"))
    assert(df.schema("QTY").dataType == LongType)
    assert(df.schema("PRICE").dataType == DoubleType)
    val rows = df.orderBy("NAME").collect()
    assert(rows(0).getString(0) == "ALPHA" && rows(0).getLong(1) == 12L)
    assert(rows(0).getDouble(2) == 10.50 && rows(0).getBoolean(3))
    assert(rows(1).getString(0) == "BETA" && !rows(1).getBoolean(3))
  }

  test("dbf: writer round-trips types, nulls, and the 10-char name limit") {
    val path = tempDir("dbfw") + "/w.dbf"
    val df = Seq(
      (1L, "alpha", 1.25, true, "2020-03-05"),
      (2L, "bé", -0.5, false, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String], 1234567.875, true, "1999-12-31"))
      .toDF("id", "name", "ratio_of_something", "ok", "d")
      .withColumn("d", col("d").cast(DateType))
    graft.sources.DbfSource.write(df, path)
    val back = graft.sources.DbfSource.read(spark, path)
    // name truncated to 10 chars; types survive (N,0 -> long; N,6 -> double)
    assert(back.columns.toSeq == Seq("id", "name", "ratio_of_s", "ok", "d"))
    assert(back.schema("id").dataType == LongType)
    assert(back.schema("ratio_of_s").dataType == DoubleType)
    val rows = back.orderBy("id").collect()
    assert(rows(0).getString(1) == "alpha" && rows(0).getDouble(2) == 1.25)
    assert(rows(1).getString(1) == "bé") // ISO-8859-1 text survives
    assert(rows(1).getDouble(2) == -0.5 && !rows(1).getBoolean(3))
    assert(rows(1).isNullAt(4) && rows(2).isNullAt(1))
    assert(rows(2).getDouble(2) == 1234567.875)
    assert(rows(2).getDate(4).toString == "1999-12-31")
  }

  test("avro: container roundtrip preserves types, nulls, timestamps, arrays") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("flag", BooleanType),
      StructField("ts", TimestampNTZType),
      StructField("day", DateType),
      StructField("tags", ArrayType(StringType))))
    val rows = java.util.Arrays.asList(
      Row(1L, "alpha", 1.5, true,
        java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 15, 123456000),
        java.sql.Date.valueOf("2024-03-01"), Seq("x", "y")),
      Row(2L, null, null, null, null, null, null),
      Row(3L, "gamma", -0.25, false,
        java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59),
        java.sql.Date.valueOf("1970-01-01"), Seq.empty[String]))
    val df = spark.createDataFrame(rows, st).repartition(2)
    val dir = tempDir("graft_avro")
    graft.sources.AvroSource.write(df, dir)
    // one container per partition + the schema marker
    val files = new java.io.File(dir).list().sorted.toSeq
    assert(files.count(_.endsWith(".avro")) == 2, files)
    assert(files.contains("_SCHEMA.avsc"))
    val back = graft.sources.AvroSource.read(spark, dir)
    assert(back.schema == st.copy(fields = st.fields.map(_.copy(nullable = true))) ||
      back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        st.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.orderBy("id").collect().toSeq
    val b = back.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("avro: mixed-schema directory resolves fields by NAME, not position") {
    // two containers whose writers disagree on field ORDER (same names,
    // same types): the reader must apply Avro schema resolution against
    // the first file's schema so both decode correctly — a positional
    // mapping would silently swap the two long columns of file 2
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = tempDir("graft_avro3")
    def schemaOf(fieldOrder: Seq[String]): Schema = {
      var b = SchemaBuilder.record("rec").fields()
      fieldOrder.foreach { n => b = b.name(n).`type`().longType().noDefault() }
      b.endRecord()
    }
    def writeFile(name: String, sch: Schema, recs: Seq[Map[String, Long]]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, new java.io.File(dir, name))
      try recs.foreach { m =>
        val r = new GenericData.Record(sch)
        m.foreach { case (k, v) => r.put(k, v) }
        w.append(r)
      } finally w.close()
    }
    writeFile("part-00000.avro", schemaOf(Seq("a", "b")), Seq(Map("a" -> 1L, "b" -> 10L)))
    writeFile("part-00001.avro", schemaOf(Seq("b", "a")), Seq(Map("a" -> 2L, "b" -> 20L)))
    val back = graft.sources.AvroSource.read(spark, dir)
      .orderBy("a").collect().map(r => (r.getLong(r.fieldIndex("a")), r.getLong(r.fieldIndex("b"))))
    assert(back.toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("avro: distributed read is one task per container file") {
    val df = sf("supplier").repartition(3)
    val dir = tempDir("graft_avro2")
    graft.sources.AvroSource.write(df, dir)
    val back = graft.sources.AvroSource.read(spark, dir)
    assert(back.rdd.getNumPartitions == 3)
    assert(back.count() == df.count())
  }

  test("jdbc: Derby roundtrip preserves nulls and negative doubles") {
    import graft.sources.JdbcSource
    val db = tempDir("derbynull") + "/db"
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "alpha", -2.5), (2L, null, 0.0), (3L, "gamma", null))
      .toDF("id", "name", "score")
    JdbcSource.derbyWrite(df, db, "t_nulls")
    val back = JdbcSource.derby(spark, db, "t_nulls").orderBy("id").collect()
    assert(back(1).isNullAt(1) && back(2).isNullAt(2))
    assert(back(0).getDouble(2) == -2.5 && back(1).getDouble(2) == 0.0)
    assert(back(0).getString(1) == "alpha" && back(2).getString(1) == "gamma")
  }

  test("dbf: writer truncates at the 254 width cap without shifting fields") {
    val path = tempDir("dbfcap") + "/cap.dbf"
    val long300 = "x" * 300
    val df = Seq((1L, long300, true), (2L, "short", false)).toDF("id", "s", "ok")
    graft.sources.DbfSource.write(df, path)
    val back = graft.sources.DbfSource.read(spark, path).orderBy("id").collect()
    assert(back(0).getString(1) == "x" * 254) // truncated at the cap
    assert(back(0).getBoolean(2) && !back(1).getBoolean(2)) // later fields intact
    assert(back(1).getString(1) == "short")
  }

  test("xml: round-trips the reference's graph/grid export shape (QBEXMLStep.swift:41-110)") {
    val df = Seq((1L, "a<b", null.asInstanceOf[String]), (2L, "y&z", "ok"))
      .toDF("id", "name", "note")
    val path = tempDir("xml") + "/t.xml"
    graft.sources.XmlSource.write(df, path, title = "t")
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(text.contains("<graph xmlns=\"http://dialogicplatform.com/data/1.0\">"))
    assert(text.contains("<cell>a&lt;b</cell>")) // escaped
    val back = graft.sources.XmlSource.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "note"))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getString(1) == "a<b" && rows(0).isNullAt(2))
    assert(rows(1).getString(2) == "ok")
  }

  test("http source: one-row fetch table (QBEHTTPStep.swift:73)") {
    val df = graft.sources.HttpSource.read(spark, "https://example.invalid/x")
    val r = df.collect()(0)
    assert(r.getAs[Int]("crawl_status") == 200)
    assert(r.getAs[String]("crawl_body").startsWith("stub:"))
  }

  test("jdbc: embedded Derby write, read, and range-partitioned bulk read") {
    import graft.sources.JdbcSource
    val db = tempDir("derbydb") + "/db"
    val src = sf("nation").select("n_nationkey", "n_name", "n_regionkey")
    JdbcSource.derbyWrite(src, db, "nation_rt")
    val back = JdbcSource.derby(spark, db, "nation_rt")
    assert(back.count() == src.count())
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      src.orderBy("n_nationkey").collect().toSeq)
    // bulk-extract path: the scan splits into range-parallel JDBC queries
    val part = JdbcSource.derbyPartitioned(spark, db, "nation_rt",
      "n_nationkey", 0, 25, 4)
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == src.count())
    // overwrite is idempotent (drop + recreate, not append)
    JdbcSource.derbyWrite(src, db, "nation_rt")
    assert(JdbcSource.derby(spark, db, "nation_rt").count() == src.count())
  }

  test("jdbc: per-dialect DDL type mapping pinned (PG/MySQL/SQLite/Derby)") {
    // The server engines never run live here (no driver jars in the
    // sandbox), and the Derby roundtrip exercises the shared relation/sink
    // path — so the residual per-engine risk is exactly the DDL type each
    // dialect generates on write (the reference hand-maintains these
    // per-dialect tables: MySQLStream.swift:19-67,
    // PostgresStream.swift:20-106, SQLiteStream.swift:738). Pin the full
    // matrix; a Spark upgrade that changes a mapping must fail loudly
    // here, not corrupt a warehouse export.
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.types._
    val urls = Seq("jdbc:postgresql://h/d", "jdbc:mysql://h/d",
      "jdbc:sqlite:/f", "jdbc:derby:/d")
    //                         postgres     mysql               sqlite(common)      derby
    val expected: Seq[(DataType, Seq[String])] = Seq(
      LongType    -> Seq("BIGINT", "BIGINT", "BIGINT", "BIGINT"),
      IntegerType -> Seq("INTEGER", "INTEGER", "INTEGER", "INTEGER"),
      ShortType   -> Seq("SMALLINT", "SMALLINT", "INTEGER", "SMALLINT"),
      DoubleType  -> Seq("FLOAT8", "DOUBLE PRECISION", "DOUBLE PRECISION", "DOUBLE PRECISION"),
      FloatType   -> Seq("FLOAT4", "FLOAT", "REAL", "REAL"),
      StringType  -> Seq("TEXT", "LONGTEXT", "TEXT", "CLOB"),
      BooleanType -> Seq("BOOLEAN", "BIT(1)", "BIT(1)", "BOOLEAN"),
      BinaryType  -> Seq("BYTEA", "BLOB", "BLOB", "BLOB"),
      TimestampType -> Seq("TIMESTAMP WITH TIME ZONE", "TIMESTAMP", "TIMESTAMP", "TIMESTAMP"),
      TimestampNTZType -> Seq("TIMESTAMP", "DATETIME", "TIMESTAMP", "TIMESTAMP"),
      DateType    -> Seq("DATE", "DATE", "DATE", "DATE"),
      DecimalType(28, 6) -> Seq("NUMERIC(28,6)", "DECIMAL(28,6)", "DECIMAL(28,6)", "DECIMAL(28,6)"))
    for (((t, wants), _) <- expected.zipWithIndex; (url, want) <- urls.zip(wants)) {
      val dialect = JdbcDialects.get(url)
      val got = dialect.getJDBCType(t).orElse(JdbcUtils.getCommonJDBCType(t))
        .map(_.databaseTypeDefinition)
      assert(got.contains(want), s"$url ${t.simpleString}: got $got, want $want")
    }
  }

  test("orc: partitioned write round-trips with hive-style layout") {
    import spark.implicits._
    val df = Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")).toDF("id", "v", "part")
    val dir = tempDir("orcrt") + "/t"
    graft.sources.OrcSource.write(df, dir, partitionBy = Seq("part"))
    // hive-style directories exist per partition value
    assert(new java.io.File(s"$dir/part=x").isDirectory)
    val back = graft.sources.OrcSource.read(spark, dir)
      .select("id", "v", "part").as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")))
  }

  test("rename step ignores unknown names, is case-insensitive") {
    val df = Seq((1, 2)).toDF("Alpha", "beta")
    val out = df.renameColumns(Map("alpha" -> "a", "nope" -> "x"))
    assert(out.columns.toSeq == Seq("a", "beta"))
  }

  test("warehouse merge: updates replace by key, inserts append, nulls match") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tempDir("whmerge"))
    wh.create("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .unionByName(Seq((Option.empty[Long], "nullkey")).toDF("k", "v")))
    // update k=2, insert k=9, replace the null-key row, extra column dropped
    val upd = Seq((Some(2L), "B", 1), (Some(9L), "new", 2),
      (Option.empty[Long], "NULLKEY", 3)).toDF("k", "v", "extra")
    wh.merge("t", upd, Seq("k"))
    val got = wh.read("t").as[(Option[Long], String)].collect().toSet
    assert(got == Set(Some(1L) -> "a", Some(2L) -> "B", Some(3L) -> "c",
      Some(9L) -> "new", (None: Option[Long]) -> "NULLKEY"))
  }

  test("warehouse diffTables: added/removed/changed, null keys and cells are rows") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tempDir("whdiff"))
    val old_ = Seq((Some(1L), Some("a")), (Some(2L), Some("b")),
      (Some(3L), Option.empty[String]), (Option.empty[Long], Some("nk")))
      .toDF("k", "v")
    val new_ = Seq((Some(1L), Some("a")),      // unchanged -> dropped
      (Some(2L), Some("B")),                   // changed
      (Some(3L), Some("now")),                 // null cell -> value = changed
      (Some(9L), Some("ins")))                 // added; null-key row removed
      .toDF("k", "v")
    wh.create("o", old_); wh.create("n", new_)
    val got = wh.diffTables("o", "n", Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(got == Set(Some(2L) -> "changed", Some(3L) -> "changed",
      Some(9L) -> "added", (None: Option[Long]) -> "removed"))
    // schema mismatch is an error, not a silent wrong diff
    wh.create("x", Seq((1, 2)).toDF("k", "other"))
    intercept[IllegalArgumentException](wh.diffTables("o", "x", Seq("k")))
  }

  test("warehouse time travel: mutations retire versions; readVersion/diffVersions/vacuum") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tempDir("whtt"))
    wh.create("t", (1L to 10L).map(i => (i, "a")).toDF("id", "v"))
    assert(wh.versions("t").isEmpty && wh.currentVersion("t") == 1)
    wh.update("t", Map("id" -> 3L), "v", "a", "b") // retires v1 (dir rename)
    wh.insert("t", Seq((11L, "c")).toDF("id", "v")) // retires v2 (hard links)
    wh.deleteRows("t", Seq(Map("id" -> 1L))) // retires v3
    assert(wh.versions("t") == Seq(1, 2, 3) && wh.currentVersion("t") == 4)
    assert(wh.readVersion("t", 1).as[(Long, String)].collect().toSet ==
      (1L to 10L).map((_, "a")).toSet)
    val v2 = wh.readVersion("t", 2)
    assert(v2.count() == 10 && v2.filter(col("v") === "b").count() == 1)
    assert(wh.readVersion("t", 3).count() == 11)
    assert(wh.readVersion("t", 4).count() == 10) // live state
    val d = wh.diffVersions("t", 1, 4, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((3L, "changed"), (11L, "added"), (1L, "removed")))
    // vacuum keeps the newest retired versions; live state unaffected
    wh.vacuum("t", keepLast = 1)
    assert(wh.versions("t") == Seq(3))
    assert(wh.readVersion("t", 3).count() == 11 && wh.read("t").count() == 10)
    // create() is a new table identity: history resets
    wh.create("t", Seq((1L, "z")).toDF("id", "v"))
    assert(wh.versions("t").isEmpty && wh.read("t").count() == 1)
    // drop removes history too
    wh.drop("t")
    assert(!wh.exists("t") && wh.versions("t").isEmpty)
  }

  test("warehouse analyze: rows, nulls, exact ndv, min/max per column") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tempDir("whstats"))
    wh.create("t", Seq(
      (1L, Some("x")), (2L, Some("y")), (3L, None), (3L, Some("x"))
    ).toDF("id", "v"))
    val got = wh.analyze("t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSet
    assert(got == Set(
      ("id", 4L, 0L, 3L, "1", "3"),
      ("v", 4L, 1L, 2L, "x", "y")))
  }

  test("warehouse audit: not-null, unique (null keys count), range rules") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a"), 5.0), (Some(2L), Some("a"), -1.0),
      (None, Some("b"), 11.0), (Some(2L), None, 3.0), (Some(3L), None, 4.0)
    ).toDF("k", "g", "v")
    val got = ParquetWarehouse.audit(df,
        notNull = Seq("k"), unique = Seq(Seq("k"), Seq("g")),
        ranges = Seq(("v", 0.0, 10.0)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got("not_null:k") == (1L, false))
    // k values {1,2,null,2,3}: 4 distinct (null counts) -> 1 violation
    assert(got("unique:k") == (1L, false))
    // g values {a,a,b,null,null}: 3 distinct -> 2 violations
    assert(got("unique:g") == (2L, false))
    // v: -1 and 11 out of [0,10]
    assert(got("range:v") == (2L, false))
    val clean = ParquetWarehouse.audit(df.filter(col("k") === 1L),
      notNull = Seq("k"), unique = Seq(Seq("k")), ranges = Seq(("v", 0.0, 10.0)))
    assert(clean.collect().forall(_.getBoolean(2)))
    // duplicate rule names (same column, different range bounds) produce
    // duplicate aliases: each row must still carry ITS OWN aggregate, not
    // the first one resolved by name
    val dup = ParquetWarehouse.audit(df,
        ranges = Seq(("v", 0.0, 10.0), ("v", -5.0, 100.0)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dup.toSeq.sortBy(_._2) ==
      Seq(("range:v", 0L), ("range:v", 2L)))
  }

  test("warehouse SCD2: change detection, closes, inserts, as-of reads") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tempDir("whscd2"))
    wh.scd2Init("d", Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "attr"), 100L)
    // batch: k=1 changes one attr, k=2 resent identical (no-op),
    // k=9 brand-new
    wh.scd2Apply("d", Seq((1L, "a", 11L), (2L, "b", 20L), (9L, "z", 90L))
      .toDF("k", "name", "attr"), Seq("k"), 200L)
    val rows = wh.read("d")
      .as[(Long, String, Long, Long, Option[Long], Boolean)].collect().toSet
    assert(rows == Set(
      (1L, "a", 10L, 100L, Some(200L), false),
      (1L, "a", 11L, 200L, None, true),
      (2L, "b", 20L, 100L, None, true), // no-op: exactly one version
      (3L, "c", 30L, 100L, None, true),
      (9L, "z", 90L, 200L, None, true)))
    // second change to the same key stacks a third version
    wh.scd2Apply("d", Seq((1L, "a2", 11L)).toDF("k", "name", "attr"),
      Seq("k"), 300L)
    assert(wh.read("d").filter(col("k") === 1L).count() == 3)
    // as-of reads pick the version covering t (valid_from <= t < valid_to)
    assert(wh.scd2AsOf("d", 150L).filter(col("k") === 1L)
      .select("attr").as[Long].collect().toSeq == Seq(10L))
    assert(wh.scd2AsOf("d", 250L).filter(col("k") === 1L)
      .select("name").as[String].collect().toSeq == Seq("a"))
    assert(wh.scd2AsOf("d", 300L).filter(col("k") === 1L)
      .select("name").as[String].collect().toSeq == Seq("a2"))
    assert(wh.scd2AsOf("d", 150L).filter(col("k") === 9L).count() == 0)
    // boundary: a version is live AT its valid_from, dead AT its valid_to
    assert(wh.scd2AsOf("d", 200L).filter(col("k") === 1L)
      .select("attr").as[Long].collect().toSeq == Seq(11L))
  }

  test("warehouse compact: file count shrinks to the byte budget, rows survive") {
    import spark.implicits._
    val wh = new ParquetWarehouse(spark, tempDir("whcompact"))
    val df = (1L to 10000L).map(i => (i, s"v$i")).toDF("id", "v")
    wh.create("t", df.repartition(8))
    assert(wh.fileCount("t") >= 8, s"expected fragmented layout, got ${wh.fileCount("t")}")
    wh.compact("t", targetBytes = 1L << 30) // everything fits one file
    assert(wh.fileCount("t") == 1)
    assert(wh.read("t").as[(Long, String)].collect().toSet ==
      (1L to 10000L).map(i => (i, s"v$i")).toSet)
    // byte budget smaller than the table -> more than one file
    val total = wh.read("t").inputFiles.length // still 1 file
    assert(total == 1)
  }

  private def fileKeyRanges(table: java.io.File, column: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    table.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        val stats = blocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == column).map(_.getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
         stats.map(_.genericGetMax.asInstanceOf[Long]).max)
      } finally r.close()
    }
  }

  test("warehouse clusterByCurve: BOTH dimensions tighten (footer audit)") {
    import spark.implicits._
    val root = tempDir("whcurve")
    val wh = new ParquetWarehouse(spark, root)
    // 100x100 grid scattered over 8 files: every file spans ~everything
    val rows = for (x <- 0L until 100L; y <- 0L until 100L) yield (x, y, s"p$x-$y")
    wh.create("t", rows.toDF("x", "y", "payload").repartition(8))
    def spans(c: String) = fileKeyRanges(new java.io.File(s"$root/t"), c)
      .map { case (lo, hi) => hi - lo }
    assert(spans("x").forall(_ > 90) && spans("y").forall(_ > 90))
    val totalBytes = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    wh.clusterByCurve("t", "x", "y", order = 7, targetBytes = totalBytes / 8)
    // curve cells are compact: the AVERAGE per-file extent shrinks in BOTH
    // dimensions (a 1-D sort would leave the second dimension full-width)
    val (sx, sy) = (spans("x"), spans("y"))
    assert(sx.nonEmpty && sx.size >= 4, s"expected several files, got ${sx.size}")
    assert(sx.map(_.toDouble).sum / sx.size < 60, s"x spans $sx")
    assert(sy.map(_.toDouble).sum / sy.size < 60, s"y spans $sy")
    assert(wh.read("t").count() == 10000)
    // empty table: a no-op, not an NPE
    wh.create("empty", rows.toDF("x", "y", "payload").limit(0))
    wh.clusterByCurve("empty", "x", "y")
    assert(wh.read("empty").count() == 0)
  }

  test("warehouse clusterBy: files carry disjoint sorted key ranges (footer audit)") {
    import spark.implicits._
    val root = tempDir("whcluster")
    val wh = new ParquetWarehouse(spark, root)
    // scattered layout: keys round-robin across 6 files, every file spans
    // nearly the whole key range
    val df = (1L to 20000L).map(i => (i, ("x" * 40) + i)).toDF("k", "payload")
    wh.create("t", df.repartition(6))
    val before = fileKeyRanges(new java.io.File(s"$root/t"), "k")
    assert(before.length >= 6)
    val span = 20000L
    assert(before.forall { case (lo, hi) => hi - lo > span / 2 },
      s"pre-cluster files should span the key range, got $before")
    // cluster: byte budget sized for ~4 files
    val totalBytes = new java.io.File(s"$root/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    wh.clusterBy("t", Seq("k"), targetBytes = totalBytes / 4)
    val after = fileKeyRanges(new java.io.File(s"$root/t"), "k").sortBy(_._1)
    assert(after.length >= 2, s"expected multiple clustered files, got ${after.length}")
    // disjoint: each file's max strictly below the next file's min
    after.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping ranges in $after")
      case _                      => ()
    }
    // rows survive the rewrite
    assert(wh.read("t").count() == 20000L)
    assert(wh.read("t").agg(sum($"k")).head().getLong(0) == (1L to 20000L).sum)
  }
}
