package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Pure-JVM PostgreSQL client speaking the PUBLIC frontend/backend wire
  * protocol, version 3 (postgresql.org/docs/current/protocol.html) — no
  * JDBC driver jar anywhere. The same move [[SqliteFile]] made for the
  * SQLite on-disk format, applied to the reference's live-database
  * connector surface (reference: `WarpConduit/Sources/PostgresStream
  * .swift:916`, which likewise implements its own protocol client rather
  * than shipping libpq).
  *
  * Supported: trust, cleartext, MD5 and SCRAM-SHA-256 (RFC 7677) auth;
  * TLS via SSLRequest upgrade (sslmode require / verify-ca on [[Conn]]);
  * simple query ('Q') with STREAMED text-format results; the EXTENDED
  * protocol (Parse/Bind/Describe/Execute/Sync) with per-column BINARY
  * result formats for table scans; COPY ... FROM STDIN in both text and
  * PGCOPY binary format for bulk ingest; and OID → Spark type mapping
  * for the scalar types the engine's tables use (numeric derives its
  * real precision/scale from the RowDescription typmod).
  *
  * Scale shape: [[read]] / [[readRange]] are PARTITIONED executor-side
  * scans — the driver fetches only the zero-row schema; each task opens
  * its own socket and pulls its slice, consuming DataRows INCREMENTALLY
  * off the socket (per-task memory is O(row), never O(slice)), so a
  * 1000-executor cluster spreads the table across 1000 independent
  * backend connections exactly like the classic JDBC partitioned read.
  * [[read]] slices by `mod(abs(hashtext(key)), n)` (works on any key, but
  * each backend scans the full table); [[readRange]] slices by key RANGE
  * (`key >= lo AND key < hi`), the indexable shape a b-tree on the key
  * serves with n disjoint index scans. [[writeTable]] streams COPY text
  * rows per input partition through `toLocalIterator` (bounded driver
  * memory, same single-artifact contract as the reference's SQL sinks);
  * [[writeTableDistributed]] is the cluster-scale ingest (per-partition
  * staged COPY promoted in one transaction — exactly-once under task
  * retry).
  */
object PgWire {

  /** Connection coordinates. `ssl` follows libpq's sslmode vocabulary:
    * "disable" (plaintext), "require" (TLS, no certificate check — stops
    * passive eavesdropping), "verify-ca" (TLS, server certificate must
    * chain to `sslRootCert`). Serializable so executor tasks can open
    * their own sockets. */
  final case class Conn(host: String, port: Int, db: String, user: String,
                        password: String = "", ssl: String = "disable",
                        sslRootCert: Option[String] = None)

  /** One output column as described by the backend: name, pg_type OID,
    * and the type modifier (for numeric: precision/scale; -1 = none). */
  final case class PgField(name: String, oid: Int, typmod: Int)

  // ---------- SCRAM-SHA-256 (RFC 5802 + RFC 7677, public specs) ----------

  /** Pure SCRAM-SHA-256 / -PLUS client computation, separated from the
    * socket so the RFC 7677 §3 test vectors pin it directly (PgWireSpec).
    * On TLS connections where the server offers SCRAM-SHA-256-PLUS, the
    * client binds the authentication to the channel with the RFC 5929
    * tls-server-end-point certificate hash (gs2 `p=tls-server-end-point`);
    * plaintext connections use the plain mechanism (gs2 `n,,`). */
  object Scram {
    import javax.crypto.spec.{PBEKeySpec, SecretKeySpec}
    import javax.crypto.{Mac, SecretKeyFactory}

    def hi(password: String, salt: Array[Byte], iterations: Int): Array[Byte] = {
      val spec = new PBEKeySpec(password.toCharArray, salt, iterations, 256)
      SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(spec).getEncoded
    }

    def hmac(key: Array[Byte], msg: String): Array[Byte] = {
      val mac = Mac.getInstance("HmacSHA256")
      mac.init(new SecretKeySpec(key, "HmacSHA256"))
      mac.doFinal(msg.getBytes(UTF_8))
    }

    def sha256(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)

    private def b64(b: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(b)

    /** client-first-message-bare. PostgreSQL takes the username from the
      * startup packet and expects `n=` empty here (as psql sends). */
    def clientFirstBare(user: String, nonce: String): String =
      s"n=$user,r=$nonce"

    final case class Exchange(clientFinal: String, serverSignature: String)

    /** Given the password, our client-first-bare and the server-first
      * message, produce the client-final message and the expected
      * server signature (to verify the `v=` in server-final). */
    /** RFC 5929 tls-server-end-point: hash of the server certificate,
      * using the hash of its signature algorithm (SHA-256 for MD5/SHA-1
      * per §4.1). This is the cbind-data for SCRAM-SHA-256-PLUS. */
    def tlsServerEndPoint(cert: java.security.cert.X509Certificate): Array[Byte] = {
      val alg = cert.getSigAlgName.toUpperCase
      val h =
        if (alg.contains("SHA384")) "SHA-384"
        else if (alg.contains("SHA512")) "SHA-512"
        else if (alg.contains("RSASSA-PSS")) {
          // PSS hides its hash in the signature parameters
          try {
            val ap = java.security.AlgorithmParameters.getInstance("RSASSA-PSS")
            ap.init(cert.getSigAlgParams)
            val d = ap.getParameterSpec(
              classOf[java.security.spec.PSSParameterSpec]).getDigestAlgorithm
            val n = d.toUpperCase.replace("SHA", "SHA-").replace("--", "-")
            if (n == "SHA-1") "SHA-256" else n // MD5/SHA-1 -> SHA-256 (RFC 5929 §4.1)
          } catch { case _: Throwable => "SHA-256" }
        } else "SHA-256"
      java.security.MessageDigest.getInstance(h).digest(cert.getEncoded)
    }

    def exchange(password: String, firstBare: String, serverFirst: String,
                 gs2Header: String = "n,,",
                 cbindData: Array[Byte] = Array.emptyByteArray): Exchange = {
      val attrs = serverFirst.split(",").map { kv =>
        kv.charAt(0) -> kv.substring(2) }.toMap
      val serverNonce = attrs('r')
      val clientNonce = firstBare.split(",r=", 2)(1)
      require(serverNonce.startsWith(clientNonce),
        "SCRAM server nonce does not extend the client nonce")
      val salt = java.util.Base64.getDecoder.decode(attrs('s'))
      val iters = attrs('i').toInt
      val salted = hi(password, salt, iters)
      val clientKey = hmac(salted, "Client Key")
      val storedKey = sha256(clientKey)
      // channel-binding attribute: base64(gs2-header ++ cbind-data)
      val withoutProof =
        s"c=${b64(gs2Header.getBytes(UTF_8) ++ cbindData)},r=$serverNonce"
      val authMessage = s"$firstBare,$serverFirst,$withoutProof"
      val clientSig = hmac(storedKey, authMessage)
      val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
      val serverKey = hmac(salted, "Server Key")
      val serverSig = hmac(serverKey, authMessage)
      Exchange(s"$withoutProof,p=${b64(proof)}", b64(serverSig))
    }

    def freshNonce(): String = {
      val raw = new Array[Byte](18)
      new java.security.SecureRandom().nextBytes(raw)
      java.util.Base64.getEncoder.encodeToString(raw)
    }
  }

  // ---------- low-level protocol ----------

  private[graft] final class Wire(conn: Conn) extends AutoCloseable {
    /** Which auth mechanism the startup actually negotiated ("none" for
      * trust) — observable so tests can pin the -PLUS selection. */
    @volatile private[graft] var authMechanism: String = "none"
    private val sock: Socket = {
      val plain = new Socket()
      plain.connect(new InetSocketAddress(conn.host, conn.port), 10000)
      plain.setTcpNoDelay(true)
      if (conn.ssl == "disable") plain
      else {
        // SSLRequest (protocol doc 55.2.10): the server answers a single
        // byte — 'S' means the TLS handshake starts now on this socket
        val o = new DataOutputStream(plain.getOutputStream)
        o.writeInt(8); o.writeInt(80877103); o.flush()
        val resp = plain.getInputStream.read()
        if (resp != 'S')
          throw new RuntimeException(
            s"server refused SSL (sslmode=${conn.ssl}); answered ${resp.toChar}")
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        val tms: Array[javax.net.ssl.TrustManager] = conn.sslRootCert match {
          case Some(path) => // verify-ca: chain must end at this root
            val cf = java.security.cert.CertificateFactory.getInstance("X.509")
            val cert = {
              val s = new java.io.FileInputStream(path)
              try cf.generateCertificate(s) finally s.close()
            }
            val ks = java.security.KeyStore.getInstance(
              java.security.KeyStore.getDefaultType)
            ks.load(null, null)
            ks.setCertificateEntry("pg-root", cert)
            val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
              javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
            tmf.init(ks)
            tmf.getTrustManagers
          case None => // "require": encrypt, accept any certificate
            Array(new javax.net.ssl.X509TrustManager {
              def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
              def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
              def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
            })
        }
        ctx.init(null, tms, new java.security.SecureRandom)
        val ssl = ctx.getSocketFactory
          .createSocket(plain, conn.host, conn.port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.startHandshake()
        ssl
      }
    }
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))

    startup()

    private def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte

    private def sendPasswordMessage(body: Array[Byte]): Unit = {
      out.writeByte('p')
      out.writeInt(4 + body.length)
      out.write(body)
      out.flush()
    }

    private def authCode(body: Array[Byte]): Int =
      ((body(0) & 0xFF) << 24) | ((body(1) & 0xFF) << 16) |
        ((body(2) & 0xFF) << 8) | (body(3) & 0xFF)

    private def startup(): Unit = {
      val params = cstr("user") ++ cstr(conn.user) ++
        cstr("database") ++ cstr(conn.db) ++
        cstr("client_encoding") ++ cstr("UTF8") :+ 0.toByte
      out.writeInt(8 + params.length)
      out.writeInt(196608) // protocol 3.0
      out.write(params)
      out.flush()
      var scramFirstBare: String = null
      var scramGs2: String = "n,,"
      var scramCbind: Array[Byte] = Array.emptyByteArray
      // the server certificate, when this socket is TLS (enables -PLUS)
      val tlsCert: Option[java.security.cert.X509Certificate] = sock match {
        case s: javax.net.ssl.SSLSocket =>
          s.getSession.getPeerCertificates.headOption.collect {
            case c: java.security.cert.X509Certificate => c
          }
        case _ => None
      }
      var ready = false
      while (!ready) {
        val (tag, body) = readMessage()
        tag match {
          case 'R' =>
            authCode(body) match {
              case 0 => // AuthenticationOk
              case 3 => // cleartext password
                sendPasswordMessage(cstr(conn.password))
              case 5 => // MD5: md5(md5(password + user) + salt), hex, "md5" prefix
                def hex(b: Array[Byte]) = b.map(x => f"${x & 0xFF}%02x").mkString
                val md = java.security.MessageDigest.getInstance("MD5")
                val inner = hex(md.digest((conn.password + conn.user).getBytes(UTF_8)))
                md.reset()
                md.update(inner.getBytes(UTF_8))
                md.update(body, 4, 4) // 4-byte salt after the code
                sendPasswordMessage(cstr("md5" + hex(md.digest())))
              case 10 => // AuthenticationSASL: NUL-separated mechanism list
                val mechs = new String(body, 4, body.length - 4, UTF_8)
                  .split("\u0000").filter(_.nonEmpty).toSeq
                // over TLS, prefer the channel-bound -PLUS variant: the
                // proof then covers the server certificate, so a MITM
                // terminating TLS cannot relay the authentication.
                // "y,," (instead of "n,,") on the plain mechanism tells
                // the server we COULD bind — downgrade protection if a
                // MITM stripped the -PLUS offer.
                val usePlus =
                  tlsCert.isDefined && mechs.contains("SCRAM-SHA-256-PLUS")
                val mechanism =
                  if (usePlus) "SCRAM-SHA-256-PLUS" else "SCRAM-SHA-256"
                require(mechs.contains(mechanism),
                  s"server offers only [${mechs.mkString(", ")}]; " +
                    "client supports SCRAM-SHA-256[-PLUS]")
                if (usePlus) {
                  scramGs2 = "p=tls-server-end-point,,"
                  scramCbind = Scram.tlsServerEndPoint(tlsCert.get)
                } else if (tlsCert.isDefined) scramGs2 = "y,,"
                authMechanism = mechanism
                scramFirstBare = Scram.clientFirstBare("", Scram.freshNonce())
                val initial = (scramGs2 + scramFirstBare).getBytes(UTF_8)
                val msg = cstr(mechanism) ++
                  Array[Byte](
                    (initial.length >> 24).toByte, (initial.length >> 16).toByte,
                    (initial.length >> 8).toByte, initial.length.toByte) ++ initial
                sendPasswordMessage(msg)
              case 11 => // AuthenticationSASLContinue: server-first-message
                val serverFirst = new String(body, 4, body.length - 4, UTF_8)
                val ex = Scram.exchange(conn.password, scramFirstBare,
                  serverFirst, scramGs2, scramCbind)
                scramFirstBare = ex.serverSignature // stash for the final check
                sendPasswordMessage(ex.clientFinal.getBytes(UTF_8))
              case 12 => // AuthenticationSASLFinal: verify v=<ServerSignature>
                val serverFinal = new String(body, 4, body.length - 4, UTF_8)
                require(serverFinal == s"v=$scramFirstBare",
                  "SCRAM server signature mismatch — not the server that knows this password")
              case code =>
                throw new RuntimeException(
                  s"server requested unsupported auth method $code " +
                    "(supported: trust/cleartext/md5/SCRAM-SHA-256)")
            }
          case 'E' => throw new RuntimeException(s"postgres error: ${errorText(body)}")
          case 'Z' => ready = true
          case _ => // ParameterStatus 'S', BackendKeyData 'K', notices
        }
      }
    }

    private def readMessage(): (Char, Array[Byte]) = {
      val tag = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      (tag, body)
    }

    private def errorText(body: Array[Byte]): String = {
      // sequence of (fieldType byte, cstring); 'M' is the human message
      val sb = new StringBuilder
      var i = 0
      while (i < body.length && body(i) != 0) {
        val f = body(i).toChar; i += 1
        val start = i
        while (body(i) != 0) i += 1
        val v = new String(body, start, i - start, UTF_8); i += 1
        if (f == 'S' || f == 'M' || f == 'C') sb.append(s"$f=$v ")
      }
      sb.toString.trim
    }

    private def sendQuery(sql: String): Unit = {
      out.writeByte('Q')
      val b = cstr(sql)
      out.writeInt(4 + b.length)
      out.write(b)
      out.flush()
    }

    /** Simple query with INCREMENTAL result consumption: the fields come
      * from the RowDescription as soon as it arrives; each DataRow is
      * parsed off the socket only when the iterator is pulled, so memory
      * is O(one row) regardless of result size. A backend error raised
      * mid-stream surfaces from the iterator once ReadyForQuery confirms
      * the turn is over; abandoning the iterator early (e.g. a task that
      * only needed `limit(1)`) is safe — [[close]] just drops the socket
      * and the backend aborts the portal. Statements with no result set
      * (DDL, COPY-free DML) yield empty fields and an empty iterator. */
    def queryStream(sql: String): (Seq[PgField], Iterator[Array[String]]) = {
      sendQuery(sql)
      var fields: Seq[PgField] = Nil
      var firstRow: Array[String] = null
      var headerDone = false
      var exhausted = false
      var err: String = null
      while (!headerDone) {
        val (tag, body) = readMessage()
        tag match {
          case 'T' => fields = parseRowDescription(body); headerDone = true
          case 'D' => firstRow = parseDataRow(body); headerDone = true
          case 'E' => err = errorText(body)
          case 'Z' => headerDone = true; exhausted = true
          case _ => // CommandComplete 'C', notices, EmptyQuery 'I'
        }
      }
      if (err != null) throw new RuntimeException(s"postgres error: $err")
      val pending = firstRow
      val it = new Iterator[Array[String]] {
        private var nextRow: Array[String] = pending
        private var done = exhausted
        private var streamErr: String = null
        private def advance(): Unit =
          while (nextRow == null && !done) {
            val (tag, body) = readMessage()
            tag match {
              case 'D' => nextRow = parseDataRow(body)
              case 'E' => streamErr = errorText(body)
              case 'Z' =>
                done = true
                if (streamErr != null)
                  throw new RuntimeException(s"postgres error: $streamErr")
              case _ =>
            }
          }
        def hasNext: Boolean = { advance(); nextRow != null }
        def next(): Array[String] = {
          advance()
          if (nextRow == null) throw new NoSuchElementException("result exhausted")
          val r = nextRow; nextRow = null; r
        }
      }
      (fields, it)
    }

    /** Simple query, fully drained: for DDL, probes and SMALL results
      * (driver-side). Table-scale scans go through [[queryStream]]. */
    def query(sql: String): (Seq[PgField], Seq[Array[String]]) = {
      val (fields, it) = queryStream(sql)
      (fields, it.toVector)
    }

    private def parseRowDescription(body: Array[Byte]): Seq[PgField] = {
      val bb = java.nio.ByteBuffer.wrap(body)
      val n = bb.getShort.toInt
      (0 until n).map { _ =>
        val start = bb.position()
        while (body(bb.position()) != 0) bb.position(bb.position() + 1)
        val name = new String(body, start, bb.position() - start, UTF_8)
        bb.position(bb.position() + 1) // NUL
        bb.getInt; bb.getShort // table oid, column no
        val typeOid = bb.getInt
        bb.getShort // typlen
        val typmod = bb.getInt
        bb.getShort // format
        PgField(name, typeOid, typmod)
      }
    }

    private def parseDataRow(body: Array[Byte]): Array[String] = {
      val bb = java.nio.ByteBuffer.wrap(body)
      val n = bb.getShort.toInt
      val out = new Array[String](n)
      var i = 0
      while (i < n) {
        val len = bb.getInt
        if (len >= 0) {
          out(i) = new String(body, bb.position(), len, UTF_8)
          bb.position(bb.position() + len)
        } // else NULL -> null
        i += 1
      }
      out
    }

    /** COPY ... FROM STDIN (text format): feed rows, then CopyDone. The
      * query string may carry leading statements (e.g. `BEGIN; DROP ...;
      * CREATE ...; COPY ...; COMMIT`) — their CommandComplete ('C') and
      * any asynchronous NoticeResponse ('N') / ParameterStatus ('S') /
      * NotificationResponse ('A') messages are consumed while waiting for
      * CopyInResponse ('G'); trailing statements execute after CopyDone
      * inside the same implicit/explicit transaction. */
    /** Consume messages until CopyInResponse ('G'): preceding statements'
      * CommandComplete and async notices are skipped, anything else is a
      * protocol error. Shared by the text and binary COPY paths. */
    private def awaitCopyInResponse(): Unit = {
      var inCopy = false
      while (!inCopy) {
        val (tag, body) = readMessage()
        tag match {
          case 'G' => inCopy = true
          case 'E' => throw new RuntimeException(s"postgres error: ${errorText(body)}")
          case 'C' | 'N' | 'S' | 'A' => // preceding statements / async notices
          case 'Z' => throw new RuntimeException("statement completed without entering COPY")
          case other => throw new RuntimeException(s"unexpected $other to COPY")
        }
      }
    }

    /** Drain to ReadyForQuery, surfacing any backend error raised after
      * CopyDone (constraint violations, trailing-statement failures). */
    private def drainToReady(): Unit = {
      var done = false
      var err: String = null
      while (!done) {
        val (t, bd) = readMessage()
        t match {
          case 'E' => err = errorText(bd)
          case 'Z' => done = true
          case _ =>
        }
      }
      if (err != null) throw new RuntimeException(s"postgres error: $err")
    }

    def copyIn(sql: String, rows: Iterator[String]): Unit = {
      sendQuery(sql)
      awaitCopyInResponse()
      val buf = new StringBuilder
      def flushBuf(): Unit = if (buf.nonEmpty) {
        val data = buf.toString.getBytes(UTF_8)
        out.writeByte('d'); out.writeInt(4 + data.length); out.write(data)
        buf.clear()
      }
      rows.foreach { r =>
        buf.append(r).append('\n')
        if (buf.length > 60000) flushBuf()
      }
      flushBuf()
      out.writeByte('c'); out.writeInt(4) // CopyDone
      out.flush()
      drainToReady()
    }

    /** COPY ... FROM STDIN WITH (FORMAT binary): same CopyInResponse
      * handshake as [[copyIn]], but the payload is the PGCOPY binary
      * stream — 11-byte signature + flags, then per-row field images in
      * the same per-type layouts [[decodeBinary]] reads, then the -1
      * trailer. No text escaping, no per-cell formatting. */
    def copyInBinary(sql: String, rowImages: Iterator[Array[Byte]]): Unit = {
      copyBeginBinary(sql)
      rowImages.foreach(copyPut)
      copyFinishBinary()
    }

    // incremental binary-COPY channel (push shape, for DataWriter-style
    // callers that receive rows one at a time): begin -> put* -> finish
    private val copyBuf = new java.io.ByteArrayOutputStream(1 << 16)
    private def flushCopyBuf(): Unit = if (copyBuf.size() > 0) {
      out.writeByte('d'); out.writeInt(4 + copyBuf.size())
      copyBuf.writeTo(out); copyBuf.reset()
    }

    /** Enter binary COPY: runs `sql` (which may carry leading statements)
      * to CopyInResponse and writes the PGCOPY header. */
    def copyBeginBinary(sql: String): Unit = {
      sendQuery(sql)
      awaitCopyInResponse()
      copyBuf.reset()
      copyBuf.write("PGCOPY\n".getBytes(UTF_8)) // signature: PGCOPY\n\377\r\n\0
      copyBuf.write(Array[Byte](0xFF.toByte, '\r'.toByte, '\n'.toByte, 0))
      copyBuf.write(i32(0)); copyBuf.write(i32(0)) // flags, header-ext length
    }

    /** Append one row image (from [[encodeBinaryRow]]) to the COPY. */
    def copyPut(img: Array[Byte]): Unit = {
      copyBuf.write(img)
      if (copyBuf.size() > 60000) flushCopyBuf()
    }

    /** Trailer + CopyDone, then drain: trailing statements in the begin
      * SQL (e.g. COMMIT) execute now; their errors surface here. */
    def copyFinishBinary(): Unit = {
      copyBuf.write(i16(-1)) // file trailer
      flushCopyBuf()
      out.writeByte('c'); out.writeInt(4) // CopyDone
      out.flush()
      drainToReady()
    }

    private def sendMsg(tag: Char, body: Array[Byte]): Unit = {
      out.writeByte(tag)
      out.writeInt(4 + body.length)
      out.write(body)
    }
    private def i16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    private def i32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

    /** EXTENDED-protocol query (Parse/Bind/Describe/Execute/Sync) with
      * per-column BINARY result formats: fixed-width types arrive as
      * big-endian machine words (no text parse), bytea as raw bytes (no
      * hex round-trip), numeric as base-10000 digits — the throughput
      * shape for table scans. Columns whose OID has no stable binary
      * decoding (or whose Spark target is the text fallback) are
      * requested in TEXT format per column, so ANY result is readable.
      *
      * Round trip 1 parses the (single) statement and describes its
      * result columns; round trip 2 binds with the per-column format
      * vector and executes with no row limit. Rows stream off the socket
      * exactly like [[queryStream]] — O(one row) memory — but each value
      * is already the Spark-layer object ([[decodeBinary]]). */
    def queryStreamBinary(sql: String): (Seq[PgField], Iterator[Array[Any]]) = {
      sendMsg('P', cstr("") ++ cstr(sql) ++ i16(0)) // Parse, unnamed stmt
      sendMsg('D', 'S'.toByte +: cstr(""))          // Describe statement
      sendMsg('S', Array.emptyByteArray)            // Sync
      out.flush()
      var fields: Seq[PgField] = Nil
      var err: String = null
      var phase1 = true
      while (phase1) {
        val (tag, body) = readMessage()
        tag match {
          case 'T' => fields = parseRowDescription(body)
          case 'E' => err = errorText(body)
          case 'Z' => phase1 = false
          case _ => // ParseComplete '1', ParameterDescription 't', NoData 'n'
        }
      }
      if (err != null) throw new RuntimeException(s"postgres error: $err")
      val fmts = fields.map(f => if (binaryFormat(f)) 1 else 0)
      val decs: Array[Array[Byte] => Any] = fields.map { f =>
        if (binaryFormat(f)) (b: Array[Byte]) => decodeBinary(f, b)
        else (b: Array[Byte]) => new String(b, UTF_8)
      }.toArray
      // Bind unnamed portal: no params, explicit result-format vector
      sendMsg('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(0) ++
        i16(fmts.length) ++ fmts.flatMap(i16).toArray)
      sendMsg('E', cstr("") ++ i32(0))              // Execute, no limit
      sendMsg('S', Array.emptyByteArray)            // Sync
      out.flush()
      val it = new Iterator[Array[Any]] {
        private var nextRow: Array[Any] = _
        private var done = false
        private var streamErr: String = null
        private def parseRow(body: Array[Byte]): Array[Any] = {
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort.toInt
          val row = new Array[Any](n)
          var i = 0
          while (i < n) {
            val len = bb.getInt
            if (len >= 0) {
              val cell = new Array[Byte](len)
              bb.get(cell)
              row(i) = decs(i)(cell)
            } // else NULL -> null
            i += 1
          }
          row
        }
        private def advance(): Unit =
          while (nextRow == null && !done) {
            val (tag, body) = readMessage()
            tag match {
              case 'D' => nextRow = parseRow(body)
              case 'E' => streamErr = errorText(body)
              case 'Z' =>
                done = true
                if (streamErr != null)
                  throw new RuntimeException(s"postgres error: $streamErr")
              case _ => // BindComplete '2', CommandComplete 'C'
            }
          }
        def hasNext: Boolean = { advance(); nextRow != null }
        def next(): Array[Any] = {
          advance()
          if (nextRow == null) throw new NoSuchElementException("result exhausted")
          val r = nextRow; nextRow = null; r
        }
      }
      (fields, it)
    }

    override def close(): Unit = {
      try { out.writeByte('X'); out.writeInt(4); out.flush() } // Terminate
      catch { case _: Throwable => }
      sock.close()
    }
  }

  /** True when the column's binary wire format has a stable decoding to
    * its [[oidToSpark]] Spark type. Text-class OIDs are binary-safe (the
    * binary representation IS the UTF-8 text); numeric is binary only
    * when its typmod yields a DecimalType (typmod -1 falls back to the
    * text form, which is what the StringType target expects). */
  private def binaryFormat(f: PgField): Boolean = f.oid match {
    case 16 | 17 | 20 | 21 | 23 | 700 | 701 | 1082 | 1114 | 1184 => true
    case 25 | 1043 | 1042 | 19 => true // text classes: binary == UTF-8
    case 1700 => oidToSpark(f).isInstanceOf[DecimalType]
    case _ => false
  }

  private val PgEpochSec = 946684800L // 2000-01-01T00:00:00Z (PG timestamp epoch)

  /** Encode one Spark row as a PGCOPY binary tuple: int16 field count,
    * then per field int32 byte length (-1 = NULL) + the field image in
    * the layout the column's [[sparkToPgType]] DDL type receives — the
    * exact inverse of [[decodeBinary]]. */
  private[sources] def encodeBinaryRow(values: Seq[Any],
                                       types: Array[DataType]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    val o = new java.io.DataOutputStream(bos)
    o.writeShort(types.length)
    var i = 0
    while (i < types.length) {
      val v = values(i)
      if (v == null) o.writeInt(-1)
      else types(i) match {
        case BooleanType => o.writeInt(1); o.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
        case ByteType => o.writeInt(2); o.writeShort(v.asInstanceOf[Byte].toInt)
        case ShortType => o.writeInt(2); o.writeShort(v.asInstanceOf[Short].toInt)
        case IntegerType => o.writeInt(4); o.writeInt(v.asInstanceOf[Int])
        case LongType => o.writeInt(8); o.writeLong(v.asInstanceOf[Long])
        case FloatType => o.writeInt(4); o.writeFloat(v.asInstanceOf[Float])
        case DoubleType => o.writeInt(8); o.writeDouble(v.asInstanceOf[Double])
        case StringType =>
          val b = v.toString.getBytes(UTF_8)
          o.writeInt(b.length); o.write(b)
        case BinaryType =>
          val b = v.asInstanceOf[Array[Byte]]
          o.writeInt(b.length); o.write(b)
        case DateType =>
          val ld = v match {
            case d: java.sql.Date => d.toLocalDate
            case d: java.time.LocalDate => d
          }
          o.writeInt(4); o.writeInt((ld.toEpochDay - 10957L).toInt)
        case _: TimestampNTZType | TimestampType =>
          // instant-carrying values (Timestamp/Instant) normalize to the
          // UTC wall clock regardless of the JVM zone or the java8API
          // flag, so the stored value is representation-independent
          val ldt = v match {
            case t: java.time.LocalDateTime => t
            case t: java.sql.Timestamp =>
              java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
            case t: java.time.Instant =>
              java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)
          }
          val micros = (ldt.toEpochSecond(java.time.ZoneOffset.UTC) - PgEpochSec) *
            1000000L + ldt.getNano / 1000
          o.writeInt(8); o.writeLong(micros)
        case _: DecimalType =>
          val bd0 = v match {
            case d: java.math.BigDecimal => d
            case d: scala.math.BigDecimal => d.bigDecimal
          }
          val bd = if (bd0.scale < 0) bd0.setScale(0) else bd0
          val dscale = bd.scale
          val fracGroups = (dscale + 3) / 4
          val a = bd.abs.movePointRight(4 * fracGroups).toBigIntegerExact
          if (a.signum == 0) {
            o.writeInt(8); o.writeShort(0); o.writeShort(0)
            o.writeShort(0); o.writeShort(dscale)
          } else {
            val tenK = java.math.BigInteger.valueOf(10000L)
            var rest = a
            var groups = List.empty[Int]
            while (rest.signum != 0) {
              val qr = rest.divideAndRemainder(tenK)
              groups = qr(1).intValue :: groups
              rest = qr(0)
            }
            var weight = groups.length - 1 - fracGroups
            // strip leading zero groups (weight tracks the FIRST digit)
            while (groups.nonEmpty && groups.head == 0) {
              groups = groups.tail; weight -= 1
            }
            val digits = groups.reverse.dropWhile(_ == 0).reverse // trailing zeros
            o.writeInt(8 + 2 * digits.length)
            o.writeShort(digits.length); o.writeShort(weight)
            o.writeShort(if (bd.signum < 0) 0x4000 else 0); o.writeShort(dscale)
            digits.foreach(o.writeShort)
          }
        case other =>
          throw new IllegalArgumentException(s"unsupported type for binary COPY: $other")
      }
      i += 1
    }
    o.flush()
    bos.toByteArray
  }

  /** Decode one binary-format wire value to the Spark-layer object the
    * [[oidToSpark]] type expects (postgresql.org/docs/current/protocol
    * and the server's send functions define these layouts publicly). */
  private[sources] def decodeBinary(f: PgField, b: Array[Byte]): Any = f.oid match {
    case 16 => b(0) == 1.toByte
    case 17 => b // bytea: the raw octets, no hex round-trip
    case 21 => java.nio.ByteBuffer.wrap(b).getShort
    case 23 => java.nio.ByteBuffer.wrap(b).getInt
    case 20 => java.nio.ByteBuffer.wrap(b).getLong
    case 700 => java.nio.ByteBuffer.wrap(b).getFloat
    case 701 => java.nio.ByteBuffer.wrap(b).getDouble
    case 1082 => // date: int32 days since 2000-01-01 (epoch day 10957)
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        java.nio.ByteBuffer.wrap(b).getInt.toLong + 10957L))
    case 1114 | 1184 => // timestamp[tz]: int64 micros since the PG epoch;
      // tz values count from the UTC instant -> UTC wall clock, matching
      // the text path's normalization
      val micros = java.nio.ByteBuffer.wrap(b).getLong
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L) + PgEpochSec,
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case 1700 => // numeric: i16 ndigits, weight, sign, dscale + base-10000 digits
      val bb = java.nio.ByteBuffer.wrap(b)
      val nd = bb.getShort.toInt
      val weight = bb.getShort.toInt
      val sign = bb.getShort & 0xFFFF
      val dscale = bb.getShort.toInt
      require(sign != 0xC000, "numeric NaN has no DecimalType value")
      var unscaled = java.math.BigInteger.ZERO
      val tenK = java.math.BigInteger.valueOf(10000L)
      var i = 0
      while (i < nd) {
        unscaled = unscaled.multiply(tenK)
          .add(java.math.BigInteger.valueOf(bb.getShort.toLong))
        i += 1
      }
      var bd = new java.math.BigDecimal(unscaled)
        .scaleByPowerOfTen((weight + 1 - nd) * 4)
      if (sign == 0x4000) bd = bd.negate()
      bd.setScale(dscale) // only trailing zeros beyond dscale: never rounds
    case _ => new String(b, UTF_8) // text classes
  }

  // ---------- type mapping (pg_type OIDs, public catalog) ----------

  private[sources] def oidToSpark(f: PgField): DataType = f.oid match {
    case 16 => BooleanType
    case 17 => BinaryType
    case 20 => LongType
    case 21 => ShortType
    case 23 => IntegerType
    case 25 | 1042 | 1043 => StringType // text, bpchar, varchar
    case 700 => FloatType
    case 701 => DoubleType
    case 1082 => DateType
    case 1114 | 1184 => TimestampNTZType // timestamp, timestamptz (as NTZ text)
    case 1700 =>
      // numeric: the REAL precision/scale ride the typmod
      // ((precision << 16 | scale) + 4; -1 = unconstrained). An
      // unconstrained or Spark-unrepresentable numeric surfaces as its
      // exact text form rather than overflowing/truncating at
      // createDataFrame.
      if (f.typmod == -1) StringType
      else {
        val m = f.typmod - 4
        val precision = (m >> 16) & 0xFFFF
        val scale = m & 0xFFFF
        if (precision >= 1 && precision <= 38 && scale <= precision)
          DecimalType(precision, scale)
        else StringType
      }
    case _ => StringType // unknown types surface as their text form
  }

  private[sources] def parseValue(text: String, dt: DataType): Any =
    if (text == null) null
    else dt match {
      case BooleanType => text == "t"
      case ShortType => text.toShort
      case IntegerType => text.toInt
      case LongType => text.toLong
      case FloatType => text.toFloat
      case DoubleType => text.toDouble
      case _: DecimalType => new java.math.BigDecimal(text)
      case BinaryType =>
        require(text.startsWith("\\x"), s"unsupported bytea format: $text")
        val hex = text.drop(2)
        Array.tabulate[Byte](hex.length / 2)(i =>
          Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
      case DateType => java.sql.Date.valueOf(text)
      case TimestampNTZType =>
        // timestamptz (OID 1184) text carries a zone offset ("...+05:30",
        // "...+00"); normalize to the UTC wall clock. Plain timestamp
        // (1114) has no offset and parses directly.
        val iso = text.replace(' ', 'T')
        if (iso.matches(".*[+-]\\d\\d(:?\\d\\d)?$")) {
          val padded = if (iso.matches(".*[+-]\\d\\d$")) iso + ":00" else iso
          java.time.OffsetDateTime.parse(padded)
            .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
        } else java.time.LocalDateTime.parse(iso)
      case _ => text
    }

  private def sparkToPgType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case StringType => "text"
    case BinaryType => "bytea"
    case DateType => "date"
    case _: TimestampNTZType => "timestamp"
    case TimestampType => "timestamp"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** COPY text-format escaping: backslash, tab, newline, CR; NULL = \N. */
  private def copyField(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case bytes: Array[Byte] =>
      "\\\\x" + bytes.map(b => f"${b & 0xFF}%02x").mkString // \x escaped for COPY
    case s: String =>
      val sb = new StringBuilder(s.length + 8)
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case c => sb.append(c)
      }
      sb.toString
    case other => other.toString
  }

  private[sources] def ddlColumns(schema: StructType): String =
    schema.fields
      .map(f => s""""${f.name}" ${sparkToPgType(f.dataType)}""").mkString(", ")

  // ---------- public API ----------

  /** Driver-side simple query -> local DataFrame (for DDL probes and
    * small reads; table scans should use [[read]] / [[readRange]]). */
  def query(spark: SparkSession, conn: Conn, sql: String): DataFrame = {
    val w = new Wire(conn)
    try {
      val (fields, rows) = w.query(sql)
      val schema = StructType(fields.map(f =>
        StructField(f.name, oidToSpark(f), nullable = true)))
      val parsed = rows.map(r => Row.fromSeq(
        r.toSeq.zip(schema.fields).map { case (v, f) => parseValue(v, f.dataType) }))
      spark.createDataFrame(spark.sparkContext.parallelize(parsed.toSeq, 1), schema)
    } finally w.close()
  }

  def execute(conn: Conn, sql: String): Unit = {
    val w = new Wire(conn)
    try { w.query(sql); () } finally w.close()
  }

  /** Test hook: pull the first `take` rows of `sql` WITHOUT draining the
    * result, then drop the connection — the observable O(row) behavior of
    * the streamed read path (a buffered client would have to receive and
    * parse the FULL result before returning the first row; abandoning the
    * portal mid-stream must neither hang nor leak). */
  private[graft] def streamTake(conn: Conn, sql: String,
                                take: Int): Seq[Array[String]] = {
    val w = new Wire(conn)
    try w.queryStream(sql)._2.take(take).toVector
    finally w.close()
  }

  private[sources] def fetchSchema(conn: Conn, table: String): StructType = {
    val probe = new Wire(conn)
    try {
      val (fields, _) = probe.query(s"SELECT * FROM $table LIMIT 0")
      StructType(fields.map(f =>
        StructField(f.name, oidToSpark(f), nullable = true)))
    } finally probe.close()
  }

  /** Shared executor-side scan: one wire connection and one STREAMED
    * query per partition predicate — rows are parsed incrementally off
    * the socket (O(row) task memory), the task-completion listener closes
    * the socket even when the iterator is abandoned early (limit/take). */
  private def partitionedScan(spark: SparkSession, conn: Conn, table: String,
                              schema: StructType,
                              predicates: IndexedSeq[String]): DataFrame = {
    val rdd = spark.sparkContext
      .parallelize(predicates.indices, predicates.length)
      .mapPartitions { ps =>
        ps.flatMap { p =>
          val w = new Wire(conn)
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => w.close()))
          // extended protocol, binary result formats: fixed-width values
          // arrive as machine words, bytea raw — no per-cell text parse
          val (_, rows) = w.queryStreamBinary(
            s"SELECT * FROM $table WHERE ${predicates(p)}")
          rows.map(r => Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(r)))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Partitioned executor-side read: the driver fetches only the LIMIT 0
    * schema; each of `numPartitions` tasks opens its own wire connection
    * and scans `WHERE mod(abs(hashtext(<keyCol>::text)), n) = p` — the
    * standard partitioned-JDBC shape, driverless and jarless. Works on
    * ANY key type, but the predicate is not indexable (each backend scans
    * the whole table); prefer [[readRange]] when a numeric key with a
    * b-tree exists. */
  def read(spark: SparkSession, conn: Conn, table: String, keyCol: String,
           numPartitions: Int = 4): DataFrame = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    val schema = fetchSchema(conn, table)
    // cast to bigint BEFORE abs: abs(int4min) would overflow int4.
    // NULL keys hash to NULL and would match NO partition predicate
    // (silent row loss) — partition 0 owns them explicitly.
    val preds = (0 until numPartitions).map { p =>
      val nullArm = if (p == 0) s" OR $keyCol IS NULL" else ""
      s"mod(abs(hashtext($keyCol::text)::bigint), $numPartitions) = $p$nullArm"
    }
    partitionedScan(spark, conn, table, schema, preds)
  }

  /** RANGE-partitioned executor-side read over an integral key: the
    * driver probes server-side min/max, splits [min, max] into
    * `numPartitions` contiguous slices, and each task scans
    * `WHERE key >= lo AND key < hi` — the INDEXABLE alternative to
    * [[read]]'s `mod(hashtext(...))` (a b-tree on the key turns the N
    * full scans into N disjoint index range scans), exactly as classic
    * partitioned JDBC does. Partition 0 owns NULL keys; the last slice
    * is closed with `<= max`. Skewed keys still skew slices — use
    * [[read]] when the key distribution is pathological. */
  def readRange(spark: SparkSession, conn: Conn, table: String, keyCol: String,
                numPartitions: Int = 4): DataFrame = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    val schema = fetchSchema(conn, table)
    val probe = new Wire(conn)
    val bounds = try {
      val (_, rows) = probe.query(
        s"SELECT min($keyCol)::bigint, max($keyCol)::bigint FROM $table")
      rows.headOption.filter(r => r(0) != null && r(1) != null)
        .map(r => (r(0).toLong, r(1).toLong))
    } finally probe.close()
    partitionedScan(spark, conn, table, schema,
      rangePredicates(keyCol, bounds, numPartitions))
  }

  /** Contiguous range-slice predicates over closed [lo, hi] with
    * partition 0 owning NULL keys; `None` bounds (empty table or all-NULL
    * keys) yield one NULL-only slice. Shared by [[readRange]] and the
    * DSv2 batch scan so the NULL-ownership and boundary rules cannot
    * drift apart. */
  private[sources] def rangePredicates(keyCol: String,
                                       bounds: Option[(Long, Long)],
                                       numPartitions: Int): IndexedSeq[String] =
    bounds match {
      case None => IndexedSeq(s"$keyCol IS NULL")
      case Some((lo, hi)) =>
        val span = BigInt(hi) - BigInt(lo) + 1
        val n = numPartitions.min(span.min(Int.MaxValue).toInt).max(1)
        (0 until n).map { p =>
          val a = BigInt(lo) + span * p / n
          val b = BigInt(lo) + span * (p + 1) / n
          val arm =
            if (p == n - 1) s"$keyCol >= $a AND $keyCol <= $hi"
            else s"$keyCol >= $a AND $keyCol < $b"
          if (p == 0) s"($arm) OR $keyCol IS NULL" else arm
        }
    }

  /** Drop-and-recreate + COPY FROM STDIN bulk load (driver-side single
    * connection; bounded memory via toLocalIterator). */
  def writeTable(df: DataFrame, conn: Conn, table: String): Unit = {
    resetTable(conn, table, df.schema)
    val w = new Wire(conn)
    try {
      val types = df.schema.fields.map(_.dataType)
      val it = df.toLocalIterator()
      val images = new Iterator[Array[Byte]] {
        def hasNext: Boolean = it.hasNext
        def next(): Array[Byte] = encodeBinaryRow(it.next().toSeq, types)
      }
      w.copyInBinary(s"COPY $table FROM STDIN WITH (FORMAT binary)", images)
    } finally w.close()
  }

  /** DISTRIBUTED bulk load with EXACTLY-ONCE task-retry semantics: the
    * target is dropped and recreated, every partition COPYs into its own
    * stage table `<table>__stage_<pid>` inside one transaction that
    * DROPs any previous attempt's stage first (a retried task replaces
    * its predecessor's rows instead of duplicating them), and the driver
    * then promotes all stages into the target in ONE transaction — so
    * the target flips atomically from empty to complete. PostgreSQL
    * serializes heap extension per backend, so N executors stream N
    * COPYs without coordination — the 100 TB-ingest shape (the driver
    * never sees a row). The promotion is a second server-side write of
    * the data; callers that tolerate at-least-once under task retry can
    * pass `staged = false` to COPY straight into the target (one write,
    * duplicated rows possible if a committed task is retried —
    * speculation, post-commit failure). */
  def writeTableDistributed(df: DataFrame, conn: Conn, table: String,
                            staged: Boolean = true): Unit = {
    resetTable(conn, table, df.schema)
    if (!staged) { appendDistributed(df, conn, table); return }
    val cols = ddlColumns(df.schema)
    val types = df.schema.fields.map(_.dataType)
    val stageName = (p: Int) => stageIdent(s"${table}__stage_$p")
    // materialize ONE RDD and use it for both the partition count and the
    // write: separate df.rdd / df.foreachPartition calls may finalize the
    // (AQE) plan twice with different partition counts, leaving promotion
    // expecting stage tables that were never created
    val rdd = df.rdd
    val nParts = rdd.getNumPartitions
    if (nParts == 0) return // zero-partition plan: no tasks would run, so
    // no stage tables exist — the reset target is already the empty result
    rdd.foreachPartition { (rows: Iterator[Row]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val stage = stageName(pid)
      val w = new Wire(conn)
      // the whole stage write is one transaction (empty partitions still
      // create their stage so promotion finds every table): a concurrent/
      // retried attempt serializes on the DROP lock and last-writer-wins
      try w.copyInBinary(stageCopySql(stage, cols),
        rows.map(r => encodeBinaryRow(r.toSeq, types)))
      finally w.close()
    }
    val promote = (0 until nParts).map { p =>
      s"INSERT INTO $table SELECT * FROM ${stageName(p)}; DROP TABLE ${stageName(p)};"
    }.mkString(" ")
    execute(conn, s"BEGIN; $promote COMMIT")
  }

  /** Distributed COPY append into an EXISTING table (no DDL) — the
    * per-micro-batch sink shape for Structured Streaming foreachBatch.
    * AT-LEAST-ONCE under task retry: each partition's COPY autocommits,
    * so a task retried after its COPY committed (speculation, post-commit
    * failure) duplicates that partition's rows; exactly-once needs the
    * caller's trigger/checkpoint discipline plus an idempotent target
    * (unique key + ON CONFLICT, or the staged [[writeTableDistributed]]
    * shape keyed by epoch). */
  def appendDistributed(df: DataFrame, conn: Conn, table: String): Unit = {
    val types = df.schema.fields.map(_.dataType)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val w = new Wire(conn)
        try w.copyInBinary(s"COPY $table FROM STDIN WITH (FORMAT binary)",
          rows.map(r => encodeBinaryRow(r.toSeq, types)))
        finally w.close()
      }
    }
  }

  /** EXACTLY-ONCE micro-batch append for streaming sinks: partitions
    * stage through transactional COPY (as [[writeTableDistributed]]),
    * then ONE promote transaction inserts every stage AND records the
    * epoch in `<table>__epochs` (primary key). A REPLAYED batch — Spark
    * re-delivers the same epochId after a failure — is skipped up front
    * when the ledger already holds the epoch, and if two promotions race,
    * the ledger's uniqueness makes the loser's whole transaction roll
    * back. foreachBatch sinks therefore get end-to-end exactly-once on
    * top of Spark's replayed epochs, not just at-least-once.
    *
    * `runId` disambiguates epoch numbering across query runs (Spark
    * epoch ids restart at 0 with a fresh checkpoint): pass something
    * stable per checkpoint — the streaming query id or the checkpoint
    * path — whenever more than one run can append to the same table. */
  def appendDistributedExactlyOnce(df: DataFrame, conn: Conn, table: String,
                                   epochId: Long,
                                   runId: String = "default"): Unit = {
    ensureLedger(conn, table)
    if (epochSeen(conn, table, runId, epochId)) return // replay: no-op
    val cols = ddlColumns(df.schema)
    val types = df.schema.fields.map(_.dataType)
    val stageName = (p: Int) =>
      stageIdent(s"${table}__astage_${sanitizeRun(runId)}_${epochId}_$p")
    val rdd = df.rdd
    val nParts = rdd.getNumPartitions
    if (nParts == 0) {
      execute(conn, s"INSERT INTO ${table}__epochs VALUES " +
        s"(${sqlStringLit(runId)}, $epochId) ON CONFLICT DO NOTHING")
      return
    }
    rdd.foreachPartition { (rows: Iterator[Row]) =>
      val w = new Wire(conn)
      try w.copyInBinary(
        stageCopySql(stageName(org.apache.spark.TaskContext.getPartitionId()), cols),
        rows.map(r => encodeBinaryRow(r.toSeq, types)))
      finally w.close()
    }
    val promote = (0 until nParts).map { p =>
      s"INSERT INTO $table SELECT * FROM ${stageName(p)}; DROP TABLE ${stageName(p)};"
    }.mkString(" ")
    // the plain ledger INSERT (no ON CONFLICT) is the exactly-once gate:
    // a concurrent/duplicate promotion violates the (run, epoch) PK and
    // rolls back its entire transaction, stages and all
    execute(conn, s"BEGIN; INSERT INTO ${table}__epochs VALUES " +
      s"(${sqlStringLit(runId)}, $epochId); $promote COMMIT")
  }

  /** The exactly-once ledger is keyed by (run, epoch): Spark epoch ids
    * are only unique WITHIN one query run from one checkpoint, so a
    * restarted stream with a fresh checkpoint (or a second query on the
    * same table) must carry a different run identity or its first
    * batches would be misread as replays. */
  private[sources] def ensureLedger(conn: Conn, table: String): Unit =
    execute(conn, s"CREATE TABLE IF NOT EXISTS ${table}__epochs " +
      "(run text, epoch bigint, PRIMARY KEY (run, epoch))")

  private[sources] def epochSeen(conn: Conn, table: String,
                                 runId: String, epochId: Long): Boolean = {
    val w = new Wire(conn)
    try w.query(s"SELECT 1 FROM ${table}__epochs WHERE " +
      s"run = ${sqlStringLit(runId)} AND epoch = $epochId")._2.nonEmpty
    finally w.close()
  }

  private[sources] def sqlStringLit(s: String): String =
    "'" + s.replace("'", "''") + "'"
  private def sanitizeRun(s: String): String =
    s.replaceAll("[^A-Za-z0-9_]", "_")

  /** The one staging transaction every distributed writer uses: stage
    * table lives and dies with its transaction, so an aborted task
    * leaves nothing behind. */
  private[sources] def stageCopySql(stage: String, cols: String): String =
    s"BEGIN; DROP TABLE IF EXISTS $stage; CREATE TABLE $stage ($cols); " +
      s"COPY $stage FROM STDIN WITH (FORMAT binary); COMMIT"

  /** Identifier-length guard: PostgreSQL silently TRUNCATES identifiers
    * to 63 bytes, which would collapse different partitions' stage
    * tables into one name (concurrent tasks then clobber each other's
    * stages). Long names collapse to a hash-derived short form instead. */
  private[sources] def stageIdent(raw: String): String =
    if (raw.getBytes(UTF_8).length <= 63) raw
    else "g__" + java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes(UTF_8)).map(b => f"${b & 0xFF}%02x").mkString

  /** CREATE TABLE IF NOT EXISTS — safe to call on an existing append
    * target (never drops data). Use [[resetTable]] to start empty. */
  def createTable(conn: Conn, table: String, schema: StructType): Unit =
    execute(conn, s"""CREATE TABLE IF NOT EXISTS $table (${ddlColumns(schema)})""")

  /** DROP IF EXISTS + CREATE: the start-empty DDL for full-table loads.
    * Destroys existing data by design — append sinks want [[createTable]].
    * The exactly-once epoch ledger resets with its table, so a fresh
    * stream against a reset target starts from a clean slate. */
  def resetTable(conn: Conn, table: String, schema: StructType): Unit = {
    execute(conn, s"""DROP TABLE IF EXISTS $table""")
    execute(conn, s"""DROP TABLE IF EXISTS ${table}__epochs""")
    execute(conn, s"""CREATE TABLE $table (${ddlColumns(schema)})""")
  }

  // ---------- local server provisioning (driver environment) ----------

  /** Default coordinates for the locally-provisioned server. */
  val local: Conn = Conn("127.0.0.1", 55432, "postgres", "graft")

  private def sh(cmd: String*): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), UTF_8)
    (p.waitFor(), out)
  }

  private def listening(conn: Conn): Boolean =
    try { new Wire(conn).close(); true } catch { case _: Throwable => false }

  /** Ensure a local PostgreSQL server is up at [[local]], provisioning a
    * throwaway cluster under /tmp if none is listening. Postgres refuses
    * to run as root, so a root caller provisions via a dedicated system
    * user (idempotent useradd). Throws with the failing step's output if
    * the environment genuinely lacks PostgreSQL — the caller's oracle row
    * then reports a determinate err instead of silently passing. */
  def ensureLocalServer(): Conn = synchronized {
    if (listening(local)) return local
    val bins = Seq("/usr/lib/postgresql/15/bin", "/usr/local/bin", "/usr/bin")
    val initdb = bins.map(b => new java.io.File(s"$b/initdb")).find(_.canExecute)
      .getOrElse(throw new IllegalStateException("initdb not found: PostgreSQL not installed"))
      .getAbsolutePath
    val pgctl = new java.io.File(initdb).getParent + "/pg_ctl"
    // fixed paths, not a session's run root: the server, its data dir and
    // its log are shared by every JVM and query that reaches this port
    val data = "/tmp/graft_pgdata"
    val log = "/tmp/graft_pg.log"
    val asRoot = System.getProperty("user.name") == "root"
    def run(label: String, cmd: String): Unit = {
      val (rc, out) =
        if (asRoot) sh("su", "pguser", "-c", cmd) else sh("sh", "-c", cmd)
      if (rc != 0) throw new IllegalStateException(s"$label failed (rc=$rc): ${out.take(500)}")
    }
    if (asRoot) { sh("useradd", "-m", "pguser"); () } // idempotent
    if (!new java.io.File(s"$data/PG_VERSION").exists()) {
      sh("sh", "-c", s"rm -rf $data && mkdir -p $data" +
        (if (asRoot) s" && chown pguser $data" else ""))
      run("initdb", s"$initdb -D $data -U ${local.user} --auth=trust")
    }
    // start may lose a cross-PROCESS race (forked bench JVMs share the
    // cluster): a failed start is fine as long as SOMEONE got it up
    try run("pg_ctl start",
      s"$pgctl -D $data -l $log -o '-p ${local.port} -k /tmp -c listen_addresses=127.0.0.1' start")
    catch { case e: IllegalStateException => if (listening(local)) () else throw e }
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!listening(local)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("postgres did not come up on 127.0.0.1:" + local.port)
      Thread.sleep(200)
    }
    local
  }
}
