package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.PgWire

/** Pure-JVM PostgreSQL wire-protocol client against a REAL locally
  * provisioned server (initdb + pg_ctl, trust auth): the live twin of the
  * pinned PG dialect matrix in SourcesSpec. Every test is skipped (not
  * failed) when the environment lacks PostgreSQL — the oracle-gated
  * `q_pg_roundtrip` row is the authoritative driver-side gate. */
class PgWireSpec extends SparkSpec {

  private lazy val conn: Option[PgWire.Conn] =
    try Some(PgWire.ensureLocalServer())
    catch { case _: Throwable => None }

  test("type matrix round-trips through COPY and text results") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("b", BooleanType),
      StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("bin", BinaryType),
      StructField("dec", DecimalType(10, 3))))
    val rows = Seq(
      Row(1L, true, 42, 1.5, "plain", Array[Byte](0, 1, -1), BigDecimal("12.345").bigDecimal),
      // COPY text-format escapes: tab, newline, CR, backslash
      Row(2L, false, -7, -0.25, "a\tb\nc\rd\\e", Array[Byte](127), BigDecimal("-0.001").bigDecimal),
      // unicode (2/3/4-byte UTF-8) survives the wire both ways
      Row(3L, null, null, null, "café 中𝄞", null, null),
      Row(4L, true, 0, 0.0, "", Array.emptyByteArray, BigDecimal("0.000").bigDecimal))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    PgWire.writeTable(df, c, "pgwire_types")
    val back = PgWire.read(spark, c, "pgwire_types", "id", numPartitions = 3)
      .orderBy("id").collect()
    assert(back.length == 4)
    val r2 = back(1)
    assert(r2.getString(4) == "a\tb\nc\rd\\e")
    assert(r2.getAs[Array[Byte]](5).toSeq == Seq(127.toByte))
    val r3 = back(2)
    assert(r3.getString(4) == "café 中𝄞")
    assert(r3.isNullAt(1) && r3.isNullAt(2) && r3.isNullAt(3) && r3.isNullAt(5))
    assert(back(0).getAs[java.math.BigDecimal](6).compareTo(
      new java.math.BigDecimal("12.345")) == 0)
    assert(back(3).getAs[Array[Byte]](5).length == 0)
  }

  test("partitioned read covers every row exactly once") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    import spark.implicits._
    val df = spark.range(500).selectExpr("id", "CAST(id * 3 AS STRING) AS v")
    PgWire.writeTable(df, c, "pgwire_parts")
    val back = PgWire.read(spark, c, "pgwire_parts", "id", numPartitions = 7)
    assert(back.rdd.getNumPartitions == 7)
    assert(back.count() == 500)
    assert(back.select("id").as[Long].collect().toSet == (0L until 500L).toSet)
  }

  test("distributed COPY loads concurrently from executor partitions") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    import spark.implicits._
    val df = spark.range(3000).repartition(6)
      .selectExpr("id", "'r' || CAST(id AS STRING) AS v")
    PgWire.writeTableDistributed(df, c, "pgwire_dist")
    val back = PgWire.read(spark, c, "pgwire_dist", "id", numPartitions = 4)
    assert(back.count() == 3000)
    assert(back.select("id").as[Long].collect().toSet == (0L until 3000L).toSet)
  }

  test("epoch-ledgered append is exactly-once under batch replay") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val df = spark.range(400).repartition(3)
      .selectExpr("id", "CAST(id * 2 AS STRING) AS v")
    PgWire.resetTable(c, "pgwire_eo", df.schema)
    PgWire.appendDistributedExactlyOnce(df, c, "pgwire_eo", epochId = 0L)
    assert(PgWire.read(spark, c, "pgwire_eo", "id").count() == 400)
    // Spark re-delivers the SAME epoch after a sink failure: must not
    // duplicate a single row
    PgWire.appendDistributedExactlyOnce(df, c, "pgwire_eo", epochId = 0L)
    assert(PgWire.read(spark, c, "pgwire_eo", "id").count() == 400)
    // the next epoch appends normally
    val df2 = spark.range(400, 500).repartition(2)
      .selectExpr("id", "CAST(id * 2 AS STRING) AS v")
    PgWire.appendDistributedExactlyOnce(df2, c, "pgwire_eo", epochId = 1L)
    val back = PgWire.read(spark, c, "pgwire_eo", "id")
    assert(back.count() == 500)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ==
      (0L until 500L).toSet)
    // an empty epoch is recorded, so ITS replay is also a no-op
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], df.schema)
    PgWire.appendDistributedExactlyOnce(empty, c, "pgwire_eo", epochId = 2L)
    PgWire.appendDistributedExactlyOnce(empty, c, "pgwire_eo", epochId = 2L)
    assert(PgWire.read(spark, c, "pgwire_eo", "id").count() == 500)
    // resetTable clears the ledger with the table: epoch 0 lands again
    PgWire.resetTable(c, "pgwire_eo", df.schema)
    PgWire.appendDistributedExactlyOnce(df, c, "pgwire_eo", epochId = 0L)
    assert(PgWire.read(spark, c, "pgwire_eo", "id").count() == 400)
  }

  test("staged distributed write of an empty/zero-partition frame succeeds") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    PgWire.writeTableDistributed(empty, c, "pgwire_empty_w")
    assert(PgWire.read(spark, c, "pgwire_empty_w", "id").count() == 0)
  }

  test("partitioned read keeps NULL-key rows; timestamptz normalizes to UTC") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c, "DROP TABLE IF EXISTS pgwire_nulls")
    PgWire.execute(c,
      "CREATE TABLE pgwire_nulls (k bigint, v text, ts timestamptz)")
    PgWire.execute(c,
      "INSERT INTO pgwire_nulls VALUES " +
        "(1, 'a', '2024-01-15 10:30:00+00'), " +
        "(NULL, 'null-key', '2024-01-15 12:00:00+02'), " +
        "(2, NULL, NULL), (NULL, 'null-key-2', NULL)")
    val back = PgWire.read(spark, c, "pgwire_nulls", "k", numPartitions = 3).collect()
    assert(back.length == 4, s"NULL-key rows dropped: got ${back.length}")
    assert(back.count(_.isNullAt(0)) == 2)
    val ts = back.filter(r => !r.isNullAt(0) && r.getLong(0) == 1L).head
      .getAs[java.time.LocalDateTime]("ts")
    assert(ts == java.time.LocalDateTime.parse("2024-01-15T10:30:00"))
    val ts2 = back.filter(r => !r.isNullAt(2) && r.isNullAt(0)).head
      .getAs[java.time.LocalDateTime]("ts") // +02 offset -> 10:00 UTC
    assert(ts2 == java.time.LocalDateTime.parse("2024-01-15T10:00:00"))
  }

  test("extended-protocol binary results decode edge values exactly") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c, "DROP TABLE IF EXISTS pgwire_bin")
    PgWire.execute(c,
      """CREATE TABLE pgwire_bin (
           id bigint, n20 numeric(20,4), nu numeric, d date, t timestamp,
           tz timestamptz, f4 real, f8 double precision, i2 smallint,
           i4 integer, by bytea, b boolean, s text, u uuid)""")
    PgWire.execute(c,
      """INSERT INTO pgwire_bin VALUES
         (1, 9999.9999, 42.5, '1999-12-31', '1999-12-31 23:59:59.999999',
          '2024-01-15 12:00:00+02', 1.5, 1e-300, 32767, 2147483647,
          '\x00ff7f', true, 'café 中𝄞', '123e4567-e89b-12d3-a456-426614174000'),
         (2, -0.0001, -0.5, '2000-01-01', '2000-01-01 00:00:00',
          NULL, -0.25, -1.75e300, -32768, -2147483648,
          '\x', false, E'a\tb', NULL),
         (3, 123456789012345.6789, NULL, '2024-02-29', '2024-06-01 06:30:15.25',
          NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
         (4, 10000.0001, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
          NULL, NULL, NULL, NULL)""")
    val back = PgWire.read(spark, c, "pgwire_bin", "id", numPartitions = 2)
      .orderBy("id").collect()
    assert(back.length == 4)
    def dec(r: org.apache.spark.sql.Row, i: Int) =
      r.getAs[java.math.BigDecimal](i)
    // numeric(20,4): base-10000 digit groups incl. boundary and signs
    assert(dec(back(0), 1).compareTo(new java.math.BigDecimal("9999.9999")) == 0)
    assert(dec(back(1), 1).compareTo(new java.math.BigDecimal("-0.0001")) == 0)
    assert(dec(back(2), 1).compareTo(
      new java.math.BigDecimal("123456789012345.6789")) == 0)
    assert(dec(back(3), 1).compareTo(new java.math.BigDecimal("10000.0001")) == 0)
    // unconstrained numeric (typmod -1): text-format fallback -> string
    assert(back(0).getString(2) == "42.5" && back(1).getString(2) == "-0.5")
    // date: negative and positive day counts from the 2000-01-01 epoch
    assert(back(0).getDate(3).toString == "1999-12-31")
    assert(back(1).getDate(3).toString == "2000-01-01")
    assert(back(2).getDate(3).toString == "2024-02-29")
    // timestamp: negative micros (pre-2000) keep full precision
    assert(back(0).getAs[java.time.LocalDateTime](4) ==
      java.time.LocalDateTime.parse("1999-12-31T23:59:59.999999"))
    assert(back(1).getAs[java.time.LocalDateTime](4) ==
      java.time.LocalDateTime.parse("2000-01-01T00:00"))
    assert(back(2).getAs[java.time.LocalDateTime](4) ==
      java.time.LocalDateTime.parse("2024-06-01T06:30:15.250"))
    // timestamptz arrives as the UTC wall clock
    assert(back(0).getAs[java.time.LocalDateTime](5) ==
      java.time.LocalDateTime.parse("2024-01-15T10:00:00"))
    assert(back(0).getFloat(6) == 1.5f && back(1).getFloat(6) == -0.25f)
    assert(back(0).getDouble(7) == 1e-300 && back(1).getDouble(7) == -1.75e300)
    assert(back(0).getShort(8) == 32767 && back(1).getShort(8) == -32768)
    assert(back(0).getInt(9) == 2147483647 && back(1).getInt(9) == -2147483648)
    assert(back(0).getAs[Array[Byte]](10).toSeq ==
      Seq(0x00.toByte, 0xff.toByte, 0x7f.toByte))
    assert(back(1).getAs[Array[Byte]](10).length == 0)
    assert(back(0).getBoolean(11) && !back(1).getBoolean(11))
    assert(back(0).getString(12) == "café 中𝄞")
    assert(back(1).getString(12) == "a\tb")
    // unknown OID (uuid): per-column text format keeps it readable
    assert(back(0).getString(13) == "123e4567-e89b-12d3-a456-426614174000")
    // NULL propagates through every binary decoder
    assert((3 to 13).forall(back(3).isNullAt))
  }

  test("binary COPY numeric encoding round-trips base-10000 boundaries") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DecimalType(22, 4)),
      StructField("e", DecimalType(10, 8))))
    val vals = Seq(
      (1L, "123456789012345678.9012", "0.00000001"),
      (2L, "-9999.9999", "-1.00000000"),
      (3L, "10000.0000", "0.00000000"),
      (4L, "0.0001", "99.99999999"))
    val rows = vals.map { case (i, a, b) =>
      Row(i, new java.math.BigDecimal(a), new java.math.BigDecimal(b)) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    PgWire.writeTable(df, c, "pgwire_numenc")
    // server-side text rendering proves the received numeric is exact
    val back = PgWire.query(spark, c,
      "SELECT id, d::text AS dt, e::text AS et FROM pgwire_numenc ORDER BY id")
      .collect()
    vals.zip(back).foreach { case ((_, a, b), r) =>
      assert(r.getString(1) == a, s"d: ${r.getString(1)} != $a")
      assert(r.getString(2) == b, s"e: ${r.getString(2)} != $b")
    }
  }

  test("TLS: sslmode=require and verify-ca handshake against the live server") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    val dataDir = PgWire.query(spark, c, "SHOW data_directory")
      .collect()(0).getString(0)
    val dd = new java.io.File(dataDir)
    assume(dd.canWrite, s"cannot write $dataDir from this uid")
    val crt = new java.io.File(dd, "server.crt")
    val key = new java.io.File(dd, "server.key")
    if (!crt.exists) {
      // self-signed server certificate; 0600 key as the server demands
      val cmd = Array("openssl", "req", "-new", "-x509", "-days", "2",
        "-nodes", "-subj", "/CN=localhost",
        "-out", crt.getAbsolutePath, "-keyout", key.getAbsolutePath)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val outTxt = new String(p.getInputStream.readAllBytes)
      assume(p.waitFor() == 0, s"openssl failed: $outTxt")
      java.nio.file.Files.setPosixFilePermissions(key.toPath,
        java.util.Set.of(java.nio.file.attribute.PosixFilePermission.OWNER_READ,
          java.nio.file.attribute.PosixFilePermission.OWNER_WRITE))
      // the key must be readable by the SERVER's uid (the data-dir owner),
      // not by this test's uid
      val serverOwner = java.nio.file.Files.getOwner(dd.toPath)
      java.nio.file.Files.setOwner(crt.toPath, serverOwner)
      java.nio.file.Files.setOwner(key.toPath, serverOwner)
    }
    // idempotent: (re)apply in case an earlier attempt reloaded before
    // the key was readable by the server's uid
    PgWire.execute(c, "ALTER SYSTEM SET ssl = on")
    PgWire.execute(c, "SELECT pg_reload_conf()") // ssl is reloadable
    Thread.sleep(500)
    // require: encrypted session, no cert check
    val tls = c.copy(ssl = "require")
    val row = PgWire.query(spark, tls,
      "SELECT ssl, version FROM pg_stat_ssl WHERE pid = pg_backend_pid()")
      .collect()(0)
    assert(row.getBoolean(0), "session is not SSL")
    assert(row.getString(1).startsWith("TLS"))
    // verify-ca: trusting the server's own cert succeeds...
    val verified = c.copy(ssl = "verify-ca",
      sslRootCert = Some(crt.getAbsolutePath))
    assert(PgWire.query(spark, verified, "SELECT 42").collect()(0).getInt(0) == 42)
    // ...while a root that did NOT sign the server cert is rejected
    val wrongCrt = new java.io.File(tempDir("wrong") + "/wrong.crt")
    val wrongKey = new java.io.File(tempDir("wrong") + "/wrong.key")
    val p2 = new ProcessBuilder("openssl", "req", "-new", "-x509", "-days", "2",
      "-nodes", "-subj", "/CN=evil",
      "-out", wrongCrt.getAbsolutePath, "-keyout", wrongKey.getAbsolutePath)
      .redirectErrorStream(true).start()
    assume(p2.waitFor() == 0)
    val bad = c.copy(ssl = "verify-ca", sslRootCert = Some(wrongCrt.getAbsolutePath))
    intercept[Exception] { PgWire.query(spark, bad, "SELECT 1").collect() }
    // distributed paths carry the TLS coordinates to executor sockets
    val df = spark.range(300).selectExpr("id", "CAST(id AS STRING) AS v")
    PgWire.writeTableDistributed(df.repartition(3), tls, "pgwire_tls_rt")
    val back = PgWire.readRange(spark, tls, "pgwire_tls_rt", "id", numPartitions = 3)
    assert(back.count() == 300)
  }

  test("server-side errors surface with the postgres message") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val e = intercept[RuntimeException] {
      PgWire.execute(conn.get, "SELECT * FROM table_that_does_not_exist_xyz")
    }
    assert(e.getMessage.contains("42P01") || e.getMessage.contains("does not exist"))
  }

  test("SCRAM-SHA-256 computation matches the RFC 7677 §3 test vectors") {
    // user "user", password "pencil", client nonce rOprNGfwEbeRWgbNEkqO
    val firstBare = PgWire.Scram.clientFirstBare("user", "rOprNGfwEbeRWgbNEkqO")
    assert(firstBare == "n=user,r=rOprNGfwEbeRWgbNEkqO")
    val serverFirst = "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    val ex = PgWire.Scram.exchange("pencil", firstBare, serverFirst)
    assert(ex.clientFinal ==
      "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    assert(ex.serverSignature == "6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
    // a server nonce that does not extend the client nonce is an attack
    intercept[IllegalArgumentException] {
      PgWire.Scram.exchange("pencil", firstBare,
        "r=EVILNONCE,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    }
  }

  test("live SCRAM-SHA-256 handshake against a scram-auth role") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    // locate pg_hba.conf, prepend a scram rule for a dedicated role (first
    // match wins — the default trust line would otherwise swallow it),
    // reload, and connect as that role through the full SASL exchange
    val hba = PgWire.query(spark, c, "SHOW hba_file").collect()(0).getString(0)
    val hbaFile = new java.io.File(hba)
    assume(hbaFile.canWrite, s"cannot edit $hba from this uid")
    PgWire.execute(c,
      "DROP ROLE IF EXISTS scram_probe; " +
        "SET password_encryption = 'scram-sha-256'; " +
        "CREATE ROLE scram_probe LOGIN PASSWORD 'graft-scram-pw'")
    val rule = "host all scram_probe 127.0.0.1/32 scram-sha-256\n"
    val original = java.nio.file.Files.readString(hbaFile.toPath)
    if (!original.startsWith(rule))
      java.nio.file.Files.writeString(hbaFile.toPath, rule + original)
    try {
      PgWire.execute(c, "SELECT pg_reload_conf()")
      Thread.sleep(300) // reload is async
      val scramConn = c.copy(user = "scram_probe", password = "graft-scram-pw")
      val got = PgWire.query(spark, scramConn, "SELECT 41 + 1 AS v").collect()
      assert(got(0).getInt(0) == 42)
      // and the wrong password must be REFUSED by the server
      val bad = intercept[RuntimeException] {
        PgWire.execute(c.copy(user = "scram_probe", password = "wrong"), "SELECT 1")
      }
      assert(bad.getMessage.contains("28P01") || // invalid_password
        bad.getMessage.toLowerCase.contains("password"))
      // plaintext negotiates the plain mechanism...
      val wPlain = new PgWire.Wire(
        c.copy(user = "scram_probe", password = "graft-scram-pw"))
      try assert(wPlain.authMechanism == "SCRAM-SHA-256")
      finally wPlain.close()
      // ...and over TLS (server.crt provisioned by the TLS test) the
      // channel-bound -PLUS variant is selected and authenticates: the
      // proof covers the RFC 5929 hash of the server certificate
      val dataDir = PgWire.query(spark, c, "SHOW data_directory")
        .collect()(0).getString(0)
      val sslOn = PgWire.query(spark, c, "SHOW ssl").collect()(0).getString(0)
      if (sslOn == "on") {
        val wTls = new PgWire.Wire(c.copy(user = "scram_probe",
          password = "graft-scram-pw", ssl = "require"))
        try {
          assert(wTls.authMechanism == "SCRAM-SHA-256-PLUS")
          val (_, rows) = wTls.query("SELECT 41 + 1")
          assert(rows.head(0) == "42")
        } finally wTls.close()
        // a wrong password fails -PLUS too (the binding does not bypass
        // the password proof)
        intercept[RuntimeException] {
          val w = new PgWire.Wire(c.copy(user = "scram_probe",
            password = "wrong", ssl = "require"))
          w.close()
        }
      } else info(s"ssl=off in $dataDir; -PLUS leg skipped this run")
    } finally {
      java.nio.file.Files.writeString(hbaFile.toPath, original)
      PgWire.execute(c, "SELECT pg_reload_conf()")
    }
  }

  test("streamed read: first rows of a huge result arrive without draining it") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    // 5M-row server-side series: a buffered client must receive ~all of it
    // before returning row 1; the streamed iterator returns after a few KB
    // and abandoning the portal neither hangs nor poisons the next query
    val t0 = System.nanoTime()
    val first = PgWire.streamTake(c,
      "SELECT g, md5(g::text) FROM generate_series(1, 5000000) g", 3)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(first.map(_(0)) == Seq("1", "2", "3"))
    assert(secs < 15.0, f"first-3 took $secs%.1f s — read path is buffering the slice")
    // connection teardown mid-result left the server healthy
    assert(PgWire.query(spark, c, "SELECT 7 AS ok").collect()(0).getInt(0) == 7)
  }

  test("limit(1) over a partitioned read completes against a large table") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c,
      "DROP TABLE IF EXISTS pgwire_big; " +
        "CREATE TABLE pgwire_big AS SELECT g::bigint AS id, md5(g::text) AS v " +
        "FROM generate_series(1, 400000) g")
    val one = PgWire.read(spark, c, "pgwire_big", "id", numPartitions = 4)
      .limit(1).collect()
    assert(one.length == 1 && one(0).getLong(0) >= 1L)
  }

  test("range-partitioned read covers every row exactly once, equals hash read") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    import spark.implicits._
    PgWire.execute(c,
      "DROP TABLE IF EXISTS pgwire_range; " +
        "CREATE TABLE pgwire_range (k bigint, v text); " +
        "INSERT INTO pgwire_range SELECT g, 'v' || g FROM generate_series(-50, 949) g; " +
        "INSERT INTO pgwire_range VALUES (NULL, 'null-1'), (NULL, 'null-2')")
    val ranged = PgWire.readRange(spark, c, "pgwire_range", "k", numPartitions = 7)
    assert(ranged.rdd.getNumPartitions == 7)
    assert(ranged.count() === 1002L)
    assert(ranged.filter("k IS NULL").count() === 2L)
    assert(ranged.filter("k IS NOT NULL").select("k").as[Long].collect().toSet ==
      (-50L to 949L).toSet)
    val hashed = PgWire.read(spark, c, "pgwire_range", "k", numPartitions = 3)
    assert(ranged.select("k", "v").collect().map(_.toString).sorted.toSeq ==
      hashed.select("k", "v").collect().map(_.toString).sorted.toSeq)
    // degenerate shapes: empty table, single-key table
    PgWire.execute(c, "DROP TABLE IF EXISTS pgwire_range_e; " +
      "CREATE TABLE pgwire_range_e (k bigint, v text)")
    assert(PgWire.readRange(spark, c, "pgwire_range_e", "k", 4).count() === 0L)
    PgWire.execute(c, "INSERT INTO pgwire_range_e VALUES (5, 'only')")
    assert(PgWire.readRange(spark, c, "pgwire_range_e", "k", 4).count() === 1L)
  }

  test("staged distributed write is exactly-once and atomic; stages cleaned up") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    import spark.implicits._
    val df = spark.range(2000).repartition(5)
      .selectExpr("id", "'s' || CAST(id AS STRING) AS v")
    PgWire.writeTableDistributed(df, c, "pgwire_staged")
    // run it AGAIN on the same target: drop-and-reload, still exact
    PgWire.writeTableDistributed(df, c, "pgwire_staged")
    val back = PgWire.readRange(spark, c, "pgwire_staged", "id", numPartitions = 3)
    assert(back.count() === 2000L)
    assert(back.select("id").as[Long].collect().toSet == (0L until 2000L).toSet)
    // no stage tables left behind after promotion
    val leftover = PgWire.query(spark, c,
      "SELECT count(*)::bigint AS n FROM pg_tables WHERE tablename LIKE 'pgwire_staged__stage_%'")
      .collect()(0).getLong(0)
    assert(leftover == 0L, s"$leftover stage tables not cleaned up")
  }

  test("numeric typmod drives the Spark decimal type; unconstrained numeric is text-exact") {
    assume(conn.isDefined, "PostgreSQL unavailable in this environment")
    val c = conn.get
    PgWire.execute(c,
      "DROP TABLE IF EXISTS pgwire_numerics; " +
        "CREATE TABLE pgwire_numerics (a numeric(7,2), b numeric(31,9), u numeric); " +
        "INSERT INTO pgwire_numerics VALUES " +
        "(12345.67, 1234567890123456789012.123456789, 123456789012345678901234567890.123456789012345678901)")
    val df = PgWire.read(spark, c, "pgwire_numerics", "a", numPartitions = 1)
    val sch = df.schema
    assert(sch("a").dataType == DecimalType(7, 2))
    assert(sch("b").dataType == DecimalType(31, 9))
    assert(sch("u").dataType == StringType) // typmod -1: exact text survives
    val r = df.collect()(0)
    assert(r.getAs[java.math.BigDecimal]("a").compareTo(
      new java.math.BigDecimal("12345.67")) == 0)
    assert(r.getAs[java.math.BigDecimal]("b").compareTo(
      new java.math.BigDecimal("1234567890123456789012.123456789")) == 0)
    assert(r.getString(2) ==
      "123456789012345678901234567890.123456789012345678901")
  }
}
