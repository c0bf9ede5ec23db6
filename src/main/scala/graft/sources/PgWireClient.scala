package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.server.PgWire

/** Minimal PostgreSQL simple-protocol CLIENT — the transport under the
  * `postgres_scan` native fallback (PgNativeSource). The reference's
  * `postgres_scan` speaks the wire natively through a Rust client
  * (udtf/postgres_scan.rs:18-52) rather than JDBC; this is the Scala
  * counterpart, reusing the repo's own frame reader (PgWire.readMessage
  * — tag + int32 length + body is symmetric between the directions).
  *
  * Scope: startup with trust / cleartext / MD5 / SCRAM-SHA-256 auth
  * (the RFC 5802/7677 exchange in [[graft.server.Scram]] — PG >= 14
  * defaults to scram-sha-256, and the reference's rust-postgres client
  * speaks it), one simple Query per call, text-format results streamed
  * row-at-a-time (the reader pulls DataRows from the socket as the
  * Spark task consumes them — no whole-result buffering, which is what
  * makes a 100 TB-side federated scan possible at all). Each message is
  * read into one reused buffer and a DataRow's cells are located in
  * place ([[nextRow]]), so a reader decodes them without a copy per
  * cell. TLS upgrades
  * in place via SSLRequest with libpq's full sslmode ladder:
  * disable/prefer/require (require = encrypted, no CA verification)
  * and verify-ca/verify-full backed by a PEM CA bundle (`sslRootCert`,
  * libpq's sslrootcert): verify-ca checks the certificate chain
  * against the bundle, verify-full additionally checks the server
  * hostname against the certificate (SAN dNSName/iPAddress, CN
  * fallback when no SAN — JSSE's RFC 2818 rules, which match libpq's).
  *
  * `nonceOverride` pins the SCRAM client nonce for the RFC 7677
  * test-vector spec; production callers leave it None (SecureRandom).
  */
final class PgWireClient(host: String, port: Int, database: String,
    user: String, password: String,
    sslMode: String = "disable",
    sslRootCert: Option[String] = None,
    private[graft] val nonceOverride: Option[String] = None)
    extends AutoCloseable {

  private val sock = new Socket()
  sock.connect(new InetSocketAddress(host, port), 15000)
  sock.setTcpNoDelay(true)

  /** Server end-entity certificate of the TLS channel (null on
    * plaintext) — the SCRAM-PLUS channel-binding material. DECLARED
    * BEFORE `chan`: negotiateTls() assigns it during chan's
    * initialization, and a later declaration-site `= null` would
    * overwrite the captured certificate. */
  private var peerCert: java.security.cert.X509Certificate = null
  /** SASL mechanism actually negotiated (diagnostics / tests). */
  private[graft] var saslMechanism: String = null

  /** libpq parity: `require` WITH a root-cert bundle provided behaves
    * as `verify-ca` (the libpq sslmode table documents exactly this) —
    * a user who supplies a CA expects it consulted; silently ignoring
    * it would be the trust-all downgrade the verify modes exist to
    * prevent. DECLARED BEFORE `chan` (same initialization-order rule
    * as peerCert above: chan's initializer reads this field). */
  private val effectiveSslMode: String =
    if (sslMode == "require" && sslRootCert.nonEmpty) "verify-ca" else sslMode

  /** The protocol channel: the plain socket, or its in-place TLS
    * upgrade when sslmode negotiates one (SSLRequest -> 'S' ->
    * handshake, libpq semantics: "require" encrypts WITHOUT
    * certificate-chain verification; verify-ca verifies the chain
    * against the `sslRootCert` PEM bundle, verify-full additionally
    * checks the hostname; "prefer" falls back to plaintext on 'N',
    * every other mode aborts on refusal). */
  private val chan: Socket =
    try negotiateTls()
    catch {
      case t: Throwable =>
        try sock.close() catch { case _: Throwable => }
        throw t
    }
  // read in the chunks the server writes
  private val in = new DataInputStream(
    new BufferedInputStream(chan.getInputStream, PgWire.IoBufferBytes))
  private val out = new DataOutputStream(new BufferedOutputStream(chan.getOutputStream))

  private def negotiateTls(): Socket = effectiveSslMode match {
    case "disable" => sock
    case "prefer" | "require" | "verify-ca" | "verify-full" =>
      if (effectiveSslMode.startsWith("verify") && sslRootCert.isEmpty)
        throw new IllegalArgumentException(
          s"postgres_scan native client: sslmode=$effectiveSslMode requires a CA " +
            "bundle — pass sslrootcert=<PEM file> (libpq semantics)")
      val raw = new DataOutputStream(sock.getOutputStream)
      raw.writeInt(8); raw.writeInt(80877103); raw.flush() // SSLRequest
      sock.getInputStream.read() match {
        case 'S' =>
          val tms: Array[javax.net.ssl.TrustManager] =
            if (effectiveSslMode.startsWith("verify")) caTrustManagers(sslRootCert.get)
            else {
              // trust-all context = libpq sslmode=require (encryption,
              // no chain verification; self-signed server certs
              // accepted). NEVER used for the verify-* modes above.
              Array(new javax.net.ssl.X509TrustManager {
                def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = {}
                def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = {}
                def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
              })
            }
          val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
          ctx.init(null, tms, new java.security.SecureRandom())
          val ssl = ctx.getSocketFactory
            .createSocket(sock, host, port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(true)
          if (effectiveSslMode == "verify-full") {
            // hostname verification against the certificate: JSSE's
            // RFC 2818 "HTTPS" endpoint identification — SAN dNSName
            // for hostnames / iPAddress for IP literals, CN fallback
            // only when the certificate carries no SAN
            val params = ssl.getSSLParameters
            params.setEndpointIdentificationAlgorithm("HTTPS")
            ssl.setSSLParameters(params)
          }
          try ssl.startHandshake()
          catch {
            case e: javax.net.ssl.SSLHandshakeException =>
              throw new java.io.IOException(
                s"postgres_scan native client: sslmode=$effectiveSslMode TLS " +
                  s"verification against $host failed (CA bundle " +
                  s"${sslRootCert.getOrElse("<none>")}): ${e.getMessage}", e)
          }
          // channel-binding material for SCRAM-SHA-256-PLUS: the
          // server's end-entity certificate (RFC 5929 end-point hash)
          peerCert = ssl.getSession.getPeerCertificates.headOption.collect {
            case c: java.security.cert.X509Certificate => c
          }.orNull
          ssl
        case 'N' =>
          if (effectiveSslMode == "prefer") sock
          else throw new java.io.IOException(
            s"postgres_scan native client: server refused TLS and sslmode=$effectiveSslMode")
        case -1 => throw new java.io.IOException(
          "postgres_scan native client: connection closed during TLS negotiation")
        case other => throw new java.io.IOException(
          s"postgres_scan native client: unexpected TLS negotiation byte $other")
      }
    case other => throw new IllegalArgumentException(
      s"postgres_scan native client: unsupported sslmode '$other' " +
        "(disable/prefer/require/verify-ca/verify-full)")
  }

  /** Trust managers over the PEM CA bundle at `path` (one or more
    * concatenated CERTIFICATE blocks — libpq's sslrootcert format).
    * Chain verification then runs through the standard PKIX validator
    * with ONLY these anchors (the JVM's default cacerts is not
    * consulted, matching libpq). */
  private def caTrustManagers(path: String): Array[javax.net.ssl.TrustManager] = {
    val cf = java.security.cert.CertificateFactory.getInstance("X.509")
    val fis = new java.io.FileInputStream(path)
    val cas = try cf.generateCertificates(fis) finally fis.close()
    if (cas.isEmpty) throw new IllegalArgumentException(
      s"postgres_scan native client: sslrootcert=$path contains no certificates")
    val ks = java.security.KeyStore.getInstance(
      java.security.KeyStore.getDefaultType)
    ks.load(null, null)
    var i = 0
    cas.forEach { c => ks.setCertificateEntry(s"ca$i", c); i += 1 }
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    tmf.getTrustManagers
  }

  /** RowDescription of the in-flight query: (name, type oid) per column. */
  private var fieldsVar: Array[(String, Int)] = Array.empty
  def fields: Array[(String, Int)] = fieldsVar

  /** Per-column wire format of the in-flight query (0 text, 1 binary)
    * as ANNOUNCED by the server's RowDescription — authoritative over
    * what [[executeExtended]] requested (a server that cannot encode a
    * type in binary degrades it to text and says so here). */
  private var fieldFormatsVar: Array[Int] = Array.empty
  def fieldFormats: Array[Int] = fieldFormatsVar

  // ---- startup + auth ----
  // a throw out of the constructor leaves no reference for close() to
  // run on, so a failed handshake (SCRAM-only server, bad credentials,
  // wrong database) must close the already-connected socket itself
  try {
    val buf = new ByteArrayOutputStream()
    val d = new DataOutputStream(buf)
    d.writeInt(196608) // protocol 3.0
    def cstr(s: String): Unit = { d.write(s.getBytes(UTF_8)); d.writeByte(0) }
    cstr("user"); cstr(user)
    cstr("database"); cstr(database)
    d.writeByte(0)
    out.writeInt(4 + buf.size); buf.writeTo(out); out.flush()
    awaitReady()
  } catch {
    case t: Throwable =>
      try sock.close() catch { case _: Throwable => }
      throw t
  }

  private def send(tag: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    val d = new DataOutputStream(buf)
    body(d)
    out.writeByte(tag)
    out.writeInt(4 + buf.size)
    buf.writeTo(out)
    out.flush()
  }

  /** Drain messages until ReadyForQuery, answering auth requests. */
  private def awaitReady(): Unit = {
    import graft.server.Scram
    // SCRAM exchange state, live between the three 'R' sub-messages
    var scramNonce: String = null
    var scramFirstBare: String = null
    var scramExpectV: Array[Byte] = null
    var scramGs2: String = null
    var scramCbind: Array[Byte] = Array.emptyByteArray
    var scramVerified = false
    var ready = false
    while (!ready) {
      val m = PgWire.readMessage(in)
      m.tag match {
        case 'R' =>
          val code = java.nio.ByteBuffer.wrap(m.body, 0, 4).getInt
          code match {
            case 0 => // AuthenticationOk
              // mutual authentication is only real if the server PROVED
              // knowledge of the password: once a SCRAM exchange has
              // started, AuthenticationOk is valid only AFTER a verified
              // SASLFinal — a server that skips it (it cannot forge v=
              // without the password) is an impostor collecting proofs
              if (scramNonce != null && !scramVerified)
                throw new java.io.IOException(
                  "postgres_scan native client: server sent AuthenticationOk " +
                    "without a verified SCRAM server signature (possible MITM)")
            case 3 => // cleartext password
              send('p')(d => { d.write(password.getBytes(UTF_8)); d.writeByte(0) })
            case 5 => // MD5: "md5" + md5(md5(password + user) + salt)
              val salt = java.util.Arrays.copyOfRange(m.body, 4, 8)
              send('p')(d => { d.write(md5Password(salt).getBytes(UTF_8)); d.writeByte(0) })
            case 10 => // AuthenticationSASL: server's mechanism list
              val mechs = new String(m.body, 4, m.body.length - 4, UTF_8)
                .split("\u0000").filter(_.nonEmpty).toSeq
              val speakable = Set(Scram.Mechanism) ++
                (if (peerCert != null) Set(Scram.MechanismPlus) else Set.empty)
              if (!mechs.exists(speakable))
                throw new java.io.IOException(
                  "postgres_scan native client: no mutually supported SASL " +
                    s"mechanism (server offers: ${mechs.mkString(", ")}; " +
                    s"client speaks ${speakable.mkString(", ")})")
              scramNonce = nonceOverride.getOrElse(
                Scram.randomNonce(new java.security.SecureRandom()))
              scramFirstBare = Scram.clientFirstBare(scramNonce)
              // mechanism choice: on a TLS channel with the server
              // offering -PLUS, bind to the server certificate
              // (tls-server-end-point) — a TLS-terminating MITM must
              // present a different cert and the proof then fails. gs2
              // header "p=..." carries the binding; "n,," = none.
              val usePlus =
                peerCert != null && mechs.contains(Scram.MechanismPlus)
              saslMechanism =
                if (usePlus) Scram.MechanismPlus else Scram.Mechanism
              if (usePlus) {
                scramGs2 = "p=tls-server-end-point,,"
                scramCbind = Scram.endpointHash(peerCert)
              } else if (peerCert != null) {
                // RFC 5802 downgrade detection: we DO support binding
                // (TLS channel) but the offer lacked -PLUS — gs2 "y"
                // lets a genuine server that really offered -PLUS (a
                // MITM stripped it from the list) reject the exchange
                scramGs2 = "y,,"
                scramCbind = Array.emptyByteArray
              } else {
                scramGs2 = "n,,"
                scramCbind = Array.emptyByteArray
              }
              // SASLInitialResponse: mechanism cstring + int32-length
              // payload
              val init = (scramGs2 + scramFirstBare).getBytes(UTF_8)
              send('p') { d =>
                d.write(saslMechanism.getBytes(UTF_8)); d.writeByte(0)
                d.writeInt(init.length); d.write(init)
              }
            case 11 => // AuthenticationSASLContinue: server-first-message
              if (scramNonce == null) throw new java.io.IOException(
                "postgres_scan native client: SASLContinue before SASL start")
              val serverFirst = new String(m.body, 4, m.body.length - 4, UTF_8)
              val a = Scram.attrs(serverFirst)
              val fullNonce = a.getOrElse('r', throw new java.io.IOException(
                s"postgres_scan native client: server-first lacks r=: $serverFirst"))
              if (!fullNonce.startsWith(scramNonce))
                throw new java.io.IOException(
                  "postgres_scan native client: server nonce does not extend " +
                    "the client nonce (possible MITM) — aborting SCRAM")
              // RFC 5802 §7: m= marks a mandatory extension; a client
              // that does not understand it MUST abort (we understand
              // none), not silently proceed with a broken AuthMessage
              if (a.contains('m')) throw new java.io.IOException(
                "postgres_scan native client: server-first carries a " +
                  s"mandatory SCRAM extension (m=${a('m')}) this client " +
                  "does not support — aborting authentication")
              val salt = Scram.unb64(a.getOrElse('s',
                throw new java.io.IOException(
                  s"postgres_scan native client: server-first lacks s=: $serverFirst")))
              val iterations = try a.getOrElse('i',
                throw new java.io.IOException(
                  s"postgres_scan native client: server-first lacks i=: $serverFirst")).toInt
              catch {
                case _: NumberFormatException => throw new java.io.IOException(
                  s"postgres_scan native client: malformed SCRAM iteration " +
                    s"count in server-first: $serverFirst")
              }
              // a hostile server could demand an absurd iteration count
              // and pin every partition reader in PBKDF2 for hours —
              // same spirit as the frame-length guard. PG defaults to
              // 4096; RFC 7677 suggests >= 4096; 10M >> any real server.
              if (iterations < 1 || iterations > 10000000)
                throw new java.io.IOException(
                  s"postgres_scan native client: unreasonable SCRAM " +
                    s"iteration count $iterations (limit 10000000)")
              val salted = Scram.saltedPassword(password, salt, iterations)
              // c= carries base64(gs2 header ++ channel-binding data):
              // "biws" for the unbound "n,,", header+cert-hash for -PLUS
              val c = Scram.b64(scramGs2.getBytes(UTF_8) ++ scramCbind)
              val finalNoProof = s"c=$c,r=$fullNonce"
              val authMsg = Scram.authMessage(scramFirstBare, serverFirst, finalNoProof)
              val proof = Scram.clientProof(salted, authMsg)
              scramExpectV = Scram.serverSignature(salted, authMsg)
              val resp = s"$finalNoProof,p=${Scram.b64(proof)}".getBytes(UTF_8)
              send('p')(_.write(resp)) // SASLResponse: raw payload, no cstring
            case 12 => // AuthenticationSASLFinal: v=ServerSignature
              if (scramExpectV == null) throw new java.io.IOException(
                "postgres_scan native client: SASLFinal before client-final")
              val v = Scram.attrs(
                new String(m.body, 4, m.body.length - 4, UTF_8)).getOrElse('v', "")
              if (!java.security.MessageDigest.isEqual(
                  Scram.unb64(v), scramExpectV))
                throw new java.io.IOException(
                  "postgres_scan native client: server signature verification " +
                    "failed — the server does not know the password (possible MITM)")
              scramVerified = true
            case other => throw new java.io.IOException(
              s"postgres_scan native client: unsupported auth method $other " +
                "(trust/cleartext/md5/scram-sha-256 supported)")
          }
        case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice
        case 'Z'             => ready = true
        case 'E'             => throw errorFrom(m.body)
        case other => throw new java.io.IOException(
          s"postgres_scan native client: unexpected '$other' during startup")
      }
    }
  }

  private def md5Password(salt: Array[Byte]): String = {
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val md = MessageDigest.getInstance("MD5")
    val inner = hex(md.digest((password + user).getBytes(UTF_8)))
    md.reset()
    md.update(inner.getBytes(UTF_8)); md.update(salt)
    "md5" + hex(md.digest())
  }

  /** ErrorResponse body: repeated (field-type byte + cstring), 0-term. */
  private def errorFrom(body: Array[Byte]): java.io.IOException = {
    var i = 0
    var code = "XX000"; var message = "unknown server error"
    while (i < body.length && body(i) != 0) {
      val ft = body(i).toChar
      val end = body.indexOf(0.toByte, i + 1)
      val v = new String(body, i + 1, end - i - 1, UTF_8)
      ft match {
        case 'C' => code = v
        case 'M' => message = v
        case _   =>
      }
      i = end + 1
    }
    new java.io.IOException(s"server error $code: $message")
  }

  /** Issue one simple Query. Rows are then pulled via [[fetchRow]] /
    * [[fetchRowRaw]] (all columns arrive in text format). */
  def execute(sql: String): Unit = {
    fieldsVar = Array.empty
    fieldFormatsVar = Array.empty
    pendingError = null
    done = false
    send('Q')(d => { d.write(sql.getBytes(UTF_8)); d.writeByte(0) })
  }

  /** Issue one query through the EXTENDED protocol
    * (Parse/Bind/Describe/Execute/Sync pipelined in a single flush)
    * with per-column result format codes (0 = text, 1 = binary). Two
    * wins over the simple protocol for a federated scan: fixed-width
    * types arrive in their 2/4/8-byte wire form instead of text that
    * must be re-parsed per cell, and Execute's max_rows=0 means no
    * server-side row cap (the reference server's simple protocol
    * clamps at DEFAULT_ROW_LIMIT=1024 — ours mirrors that, so a
    * self-federated scan MUST take this path to see every row).
    * Rows are then pulled via [[fetchRowRaw]]; the actual per-column
    * format (a server may degrade binary to text and must say so in
    * RowDescription) is in [[fieldFormats]]. */
  def executeExtended(sql: String, resultFormats: Array[Int]): Unit = {
    fieldsVar = Array.empty
    fieldFormatsVar = Array.empty
    pendingError = null
    done = false
    def cstr(d: DataOutputStream, s: String): Unit = {
      d.write(s.getBytes(UTF_8)); d.writeByte(0)
    }
    send('P') { d => // Parse: unnamed statement, no declared param oids
      cstr(d, ""); cstr(d, sql); d.writeShort(0)
    }
    send('B') { d => // Bind: unnamed portal/statement, no params
      cstr(d, ""); cstr(d, "")
      d.writeShort(0) // param format codes
      d.writeShort(0) // param values
      d.writeShort(resultFormats.length)
      resultFormats.foreach(d.writeShort)
    }
    send('D') { d => d.writeByte('P'); cstr(d, "") } // Describe portal
    send('E') { d => cstr(d, ""); d.writeInt(0) }    // Execute, no row cap
    send('S')(_ => ())                               // Sync
  }

  private var pendingError: java.io.IOException = null
  private var done = false
  /** CommandComplete tag of the last finished statement (NUL stripped). */
  private var lastCommandTagVar: String = null
  private[graft] def lastCommandTag: String = lastCommandTagVar

  /** Next DataRow of the in-flight query as per-column text values
    * (None = SQL NULL), or null when the result set is exhausted. */
  def fetchRow(): Array[Option[String]] = {
    val raw = fetchRowRaw()
    if (raw == null) null
    else raw.map(_.map(new String(_, UTF_8)))
  }

  /** Next DataRow as raw per-column cell bytes (text or binary per
    * [[fieldFormats]]; None = SQL NULL), or null when the result set
    * is exhausted. A copy of what [[nextRow]] locates. */
  def fetchRowRaw(): Array[Option[Array[Byte]]] =
    if (!nextRow()) null
    else Array.tabulate(cellCount) { i =>
      if (cellLength(i) < 0) None
      else Some(java.util.Arrays.copyOfRange(cellBytes,
        cellOffset(i), cellOffset(i) + cellLength(i)))
    }

  /** The message being read, reused from message to message. */
  private val body = new PgWire.WireBuffer(8192)
  private var cellOffsets = new Array[Int](16)
  private var cellLengths = new Array[Int](16)
  private var cells = 0

  /** Advance to the next DataRow of the in-flight query; false when the
    * result set is exhausted. Reads the socket incrementally — one
    * message per call on the row-bearing path. Throws the server's
    * error (after the protocol reaches ReadyForQuery, so the connection
    * stays usable). Until the next call, the row's cells are
    * `cellBytes[cellOffset(i), cellOffset(i) + cellLength(i))`, with
    * length -1 for SQL NULL. */
  private[graft] def nextRow(): Boolean = {
    if (done) return false
    while (true) {
      body.shrink()
      PgWire.readFrame(in, body) match {
        case 'D' =>
          locateCells()
          return true
        case 'T' => rowDescription()
        case 'C' => // CommandComplete: keep the tag (tests / diagnostics)
          lastCommandTagVar =
            new String(body.array, 0, math.max(0, body.size - 1), UTF_8)
        // '1'/'2' = Parse/BindComplete (extended); 'I'/'N'/'S' as in
        // the simple protocol
        case '1' | '2' | 'I' | 'N' | 'S' =>
        case 'E' => pendingError = errorFrom(java.util.Arrays.copyOf(body.array, body.size))
        case 'Z' =>
          done = true
          if (pendingError != null) { val e = pendingError; pendingError = null; throw e }
          return false
        case other => throw new java.io.IOException(
          s"postgres_scan native client: unexpected '$other' mid-query")
      }
    }
    false // unreachable
  }

  private[graft] def cellCount: Int = cells
  private[graft] def cellBytes: Array[Byte] = body.array
  private[graft] def cellOffset(i: Int): Int = cellOffsets(i)
  private[graft] def cellLength(i: Int): Int = cellLengths(i)

  /** DataRow body: int16 count, then per cell an int32 length (-1 =
    * NULL) and its bytes. */
  private def locateCells(): Unit = {
    def malformed = new java.io.IOException(
      "postgres_scan native client: malformed DataRow")
    if (body.size < 2) throw malformed
    val n = body.getShort(0).toInt
    if (n < 0) throw malformed
    if (n > cellOffsets.length) {
      cellOffsets = new Array[Int](n); cellLengths = new Array[Int](n)
    }
    var pos = 2
    var i = 0
    while (i < n) {
      if (body.size - pos < 4) throw malformed
      val len = body.getInt(pos)
      pos += 4
      if (len > body.size - pos) throw malformed
      cellOffsets(i) = pos
      cellLengths(i) = len
      if (len > 0) pos += len
      i += 1
    }
    cells = n
  }

  private def rowDescription(): Unit = {
    val bb = java.nio.ByteBuffer.wrap(body.array, 0, body.size)
    val n = bb.getShort.toInt
    val fs = new Array[Int](n)
    fieldsVar = (0 until n).map { i =>
      val nameBytes = new java.io.ByteArrayOutputStream()
      var b = bb.get()
      while (b != 0) { nameBytes.write(b); b = bb.get() }
      bb.getInt; bb.getShort // table oid, attnum
      val oid = bb.getInt
      bb.getShort; bb.getInt // typlen, typmod
      fs(i) = bb.getShort.toInt // format code (authoritative)
      (new String(nameBytes.toByteArray, UTF_8), oid)
    }.toArray
    fieldFormatsVar = fs
  }

  /** Run a query to completion and return only the RowDescription —
    * the schema-inference path (`SELECT ... LIMIT 0`). */
  def describe(sql: String): Array[(String, Int)] = {
    execute(sql)
    while (nextRow()) {} // LIMIT 0: drains straight to 'Z'
    fields
  }

  override def close(): Unit = {
    try send('X')(_ => ()) catch { case _: Throwable => }
    try chan.close() catch { case _: Throwable => } // TLS close_notify
    try sock.close() catch { case _: Throwable => }
  }
}
