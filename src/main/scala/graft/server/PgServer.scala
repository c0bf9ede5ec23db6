package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  EOFException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.pg.{PgCompat, Prepared}
import graft.spatial.SpatialFunctions

/** PostgreSQL wire-protocol front end (reference A40-A42:
  * src/server/src/postgres/server.rs, auth.rs, handler.rs): a TCP
  * accept loop, one handler thread per connection, translating SQL text
  * to `spark.sql` and streaming results back as PG rows, encoded
  * straight from Catalyst's internal rows by a per-statement
  * [[PgWire.ResultEncoder]].
  *
  * Protocol surface mirrored from the reference:
  * - startup: optional SSLRequest (declined with 'N'), MD5 password
  *   auth when a password is configured (user must be "postgres",
  *   password from GRAFT_PG_PASSWORD — auth.rs:17-18,52,60-110),
  *   trust otherwise; server params server_version/UTF8/ISO,MDY/
  *   integer_datetimes (auth.rs:91-97).
  * - simple query 'Q' with a 1024-row fetch cap (DEFAULT_ROW_LIMIT,
  *   handler.rs:21).
  * - extended protocol: Parse/Bind/Describe/Execute/Sync with $n
  *   parameters bound through [[Prepared]] (handler.rs:78-213).
  * - transaction keywords and SET handled by the parser shims.
  */
final class PgServer(spark: SparkSession, port: Int = 5432,
    password: Option[String] = sys.env.get("GRAFT_PG_PASSWORD"),
    keystore: Option[(String, String)] =
      for (p <- sys.env.get("GRAFT_PG_KEYSTORE");
           pw <- sys.env.get("GRAFT_PG_KEYSTORE_PASSWORD")) yield (p, pw),
    // password exchange when a password is configured: "md5" (the
    // reference's scheme, auth.rs:60-110) or "scram-sha-256" (what a
    // modern psql/pgjdbc expects by default — lets the native
    // federation client's SCRAM leg be proven end-to-end in-repo)
    auth: String = sys.env.getOrElse("GRAFT_PG_AUTH", "md5"),
    // COPY FROM STDIN buffers the payload driver-side for one atomic
    // append; this cap bounds that buffer so a multi-GB COPY errors
    // the CONNECTION (54000) instead of OOMing the server process
    copyMaxBytes: Long =
      sys.env.get("GRAFT_PG_COPY_MAX_BYTES").map(_.toLong).getOrElse(1L << 30)) {

  // the payload accumulates in a ByteArrayOutputStream, whose capacity
  // is int-bounded — a configured cap above ~2 GB could never actually
  // be honored (the array allocation fails before the cap trips), so
  // clamp at construction to keep the 54000 path always enforceable
  private val copyCapBytes: Long =
    math.min(copyMaxBytes, (Int.MaxValue - 16).toLong)

  // a typo'd GRAFT_PG_AUTH must not silently fall back to MD5 and
  // defeat an operator's intended SCRAM hardening
  require(auth.equalsIgnoreCase("md5") || auth.equalsIgnoreCase("scram-sha-256"),
    s"GRAFT_PG_AUTH / auth must be 'md5' or 'scram-sha-256', got '$auth'")

  /** TLS context from the PKCS12 keystore, when one is configured —
    * SSLRequest is then accepted ('S') and the connection upgrades
    * in-place (libpq sslmode=require semantics); without a keystore the
    * request is declined ('N') and clients retry plaintext. */
  private val tlsMaterial: Option[(javax.net.ssl.SSLContext, Array[Byte])] =
    keystore.map { case (path, pw) =>
      val ks = java.security.KeyStore.getInstance("PKCS12")
      val fis = new java.io.FileInputStream(path)
      try ks.load(fis, pw.toCharArray) finally fis.close()
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, pw.toCharArray)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(kmf.getKeyManagers, null, null)
      // the server's own end-entity certificate hash = the RFC 5929
      // tls-server-end-point data SCRAM-SHA-256-PLUS clients bind to.
      // It must be the certificate the KeyManager actually SERVES in
      // the handshake: prefer key-entry aliases (the end-entity cert
      // with its private key) over trustedCertEntry CAs a multi-entry
      // keystore may also hold — clients hash what they were presented
      val aliases = ks.aliases()
      var keyCert: java.security.cert.X509Certificate = null
      var anyCert: java.security.cert.X509Certificate = null
      while (aliases.hasMoreElements && keyCert == null) {
        val a = aliases.nextElement()
        ks.getCertificate(a) match {
          case c: java.security.cert.X509Certificate =>
            if (ks.isKeyEntry(a)) keyCert = c
            else if (anyCert == null) anyCert = c
          case _ =>
        }
      }
      val cert = if (keyCert != null) keyCert else anyCert
      (ctx, if (cert == null) null else Scram.endpointHash(cert))
    }
  private def tlsContext: Option[javax.net.ssl.SSLContext] = tlsMaterial.map(_._1)

  private val RowLimit = 1024 // reference DEFAULT_ROW_LIMIT

  /** Bounded ring of recently received statement texts (simple-protocol
    * buffers and extended-protocol Parse bodies) — lets integration
    * tests assert WHAT reached the wire (e.g. that a federated client
    * pushed its filters into the SQL it sent) without packet capture. */
  private val statementLog =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val statementLogSize = new java.util.concurrent.atomic.AtomicInteger(0)
  private def logStatement(sql: String): Unit = {
    // bounded in BOTH dimensions: per-entry text is capped (a multi-MB
    // COPY/VALUES buffer must not pin its whole body on the heap) and
    // the count is tracked explicitly (ConcurrentLinkedQueue.size is
    // O(n) and this runs per statement)
    statementLog.add(if (sql.length <= 4096) sql else sql.take(4096))
    if (statementLogSize.incrementAndGet() > 256) {
      statementLog.poll()
      statementLogSize.decrementAndGet()
    }
  }
  def recentStatements: Seq[String] = {
    val b = Seq.newBuilder[String]
    statementLog.forEach(s => b += s)
    b.result()
  }
  @volatile private var server: ServerSocket = _
  private val running = new AtomicBoolean(false)
  /** pid → (secret, jobGroup) for CancelRequest routing. */
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val secretRng = new java.security.SecureRandom()
  // backend pids must be unique per connection; a client's remote port
  // is not (two hosts can share a source port), so use a counter
  private val pidCounter = new java.util.concurrent.atomic.AtomicInteger(1000)

  def start(): Int = {
    PgCompat.registerAll(spark)
    SpatialFunctions.registerAll(spark)
    server = new ServerSocket(port)
    running.set(true)
    val t = new Thread(() => acceptLoop(), "pg-accept")
    t.setDaemon(true)
    t.start()
    server.getLocalPort
  }

  def stop(): Unit = {
    running.set(false)
    if (server != null) server.close()
  }

  private def acceptLoop(): Unit =
    while (running.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), s"pg-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running.get() => // closing
        case NonFatal(e) =>
          // transient accept failure (fd exhaustion & co.) while RUNNING:
          // the acceptor must survive — a dead acceptor leaves a server
          // that looks healthy but refuses every future connection.
          // Brief backoff so a persistent error can't spin a hot loop —
          // but never SILENTLY: an undiagnosable refuses-all-connections
          // server is worse than a noisy one. And a listener closed
          // out-of-band while running can never recover: accept() throws
          // the same SocketException forever, so exit the loop instead
          // of spinning on it.
          val closed = server == null || server.isClosed
          val now = System.nanoTime()
          if (closed || now - lastAcceptErrorLogNanos > 5000000000L) {
            lastAcceptErrorLogNanos = now
            System.err.println(s"[graft-pg] accept failed${
              if (closed) " (listener closed while running — acceptor exiting)"
              else ""}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          if (closed) return
          try Thread.sleep(100) catch { case _: InterruptedException => }
      }
    }

  // rate limiter for acceptor-failure logging (one line per 5 s, not
  // one per 100 ms backoff tick); seeded in the past so the first
  // failure always logs (nanoTime-anchored — MinValue would overflow
  // the elapsed subtraction)
  @volatile private var lastAcceptErrorLogNanos = System.nanoTime() - 6000000000L

  private def handle(sock: Socket): Unit = {
    // the socket's own streams, or their TLS upgrade
    var rawIn = sock.getInputStream
    var rawOut = sock.getOutputStream
    var in = new DataInputStream(rawIn)
    var out = new PgWire.Out(rawOut)
    val pid = pidCounter.incrementAndGet()
    var connSess: SparkSession = null // for release on disconnect
    // tls-server-end-point data once the connection upgrades to TLS:
    // enables the SCRAM-SHA-256-PLUS offer on this connection
    var connCbind: Option[Array[Byte]] = None
    try {
      var st = PgWire.readStartup(in)
      if (st.code == 80877104) { // GSSENCRequest: decline, client falls back
        rawOut.write('N'); rawOut.flush()
        st = PgWire.readStartup(in)
      }
      if (st.code == 80877103) { // SSLRequest
        tlsContext match {
          case Some(ctx) => // accept and upgrade the socket in place
            rawOut.write('S'); rawOut.flush()
            val ssl = ctx.getSocketFactory
              .createSocket(sock, null, sock.getPort, false)
              .asInstanceOf[javax.net.ssl.SSLSocket]
            ssl.setUseClientMode(false)
            ssl.startHandshake()
            rawIn = ssl.getInputStream
            rawOut = ssl.getOutputStream
            in = new DataInputStream(rawIn)
            out = new PgWire.Out(rawOut)
            // RFC 5929 tls-server-end-point MUST hash the certificate
            // this handshake actually SERVED: with a multi-key-entry
            // keystore the JSSE KeyManager may pick a different alias
            // (by key type / cipher suite) than a keystore scan would,
            // and a hash of the wrong cert makes every -PLUS login fail
            // channel-binding verification. The session's local chain
            // is authoritative; the constructor-time keystore scan is
            // only the fallback for JSSE impls not exposing it.
            connCbind = Option(ssl.getSession.getLocalCertificates)
              .flatMap(_.headOption.collect {
                case c: java.security.cert.X509Certificate =>
                  Scram.endpointHash(c)
              })
              .orElse(tlsMaterial.flatMap(m => Option(m._2)))
          case None => // decline, client retries plain
            rawOut.write('N'); rawOut.flush()
        }
        st = PgWire.readStartup(in)
      }
      if (st.code == 80877102) { // CancelRequest: pid + secret follow
        val buf = java.nio.ByteBuffer.wrap(st.body, 4, 8)
        val (reqPid, reqSecret) = (buf.getInt, buf.getInt)
        Option(cancelKeys.get(reqPid)) match {
          case Some((secret, group)) if secret == reqSecret =>
            spark.sparkContext.cancelJobGroup(group)
          case _ => // unknown pid or wrong secret: silently ignore (PG does)
        }
        return
      }
      // negotiation (and any TLS upgrade) is over, so no plaintext byte
      // can sit in a buffer across it: from here both directions are
      // buffered, and bytes leave only at an explicit flush
      // (ReadyForQuery, Flush, CopyInResponse, auth prompts, errors,
      // close) or when the buffer fills. NODELAY so a flushed reply is
      // not held back waiting for the client's delayed ACK.
      sock.setTcpNoDelay(true)
      in = new DataInputStream(new BufferedInputStream(rawIn, PgWire.IoBufferBytes))
      out = new PgWire.Out(new BufferedOutputStream(rawOut, PgWire.IoBufferBytes))
      val user = st.params.getOrElse("user", "")
      if (!authenticate(in, out, user, connCbind)) return

      // PG session semantics: each authenticated connection gets its
      // OWN SparkSession (shared SparkContext + catalog, isolated temp
      // views / SQL conf / prepared state) — the Spark analogue of the
      // reference's per-connection session task (server.rs:14-28).
      // Created only now: CancelRequest sockets and SSL probes return
      // above and must not pay a session bootstrap. Temp views the HOST
      // session mounted before serving (Tables.registerViews) are
      // snapshotted in — the PG-permanent-table role; temp views a
      // client creates stay invisible to every other client. The
      // bootstrap runs no Catalyst analysis and installs no catalog
      // view: PgCompat registers the compat functions and the catalog
      // confs, and GraftExtensions' ResolvePgCatalog answers pg_catalog
      // names, bare or qualified, during each statement's analysis. A
      // client's own temp view of a catalog name shadows it there,
      // for that connection only.
      val sess = spark.newSession()
      connSess = sess
      // PostgreSQL treats double-quoted tokens as IDENTIFIERS, always —
      // and wire clients rely on it: Spark's own JDBC reader (thus our
      // postgres_scan self-federation path) emits
      // `SELECT "col" FROM t WHERE ("col" > ...)`, and BI tools quote
      // every name they interpolate. Spark's default dialect would read
      // those as string literals and silently return constants.
      sess.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      PgCompat.registerAll(sess)
      SpatialFunctions.registerAll(sess)
      shareHostTempViews(sess)

      // every job from this connection's thread belongs to one job
      // group so a CancelRequest can target the running query
      val secret = secretRng.nextInt()
      val group = s"pg-conn-$pid"
      cancelKeys.put(pid, (secret, group))
      sess.sparkContext.setJobGroup(group,
        s"pg connection $pid", interruptOnCancel = true)

      out.parameterStatus("server_version", "10.0")
      out.parameterStatus("client_encoding", "UTF8")
      out.parameterStatus("DateStyle", "ISO, YMD")
      out.parameterStatus("integer_datetimes", "on")
      out.backendKeyData(pid = pid, secret = secret)
      out.readyForQuery()
      out.flush()

      // extended-protocol session state: prepared statements, bound
      // portals, and mid-execution portals awaiting further Execute
      // messages (portal suspension)
      val statements = mutable.Map[String, String]()
      val stmtOids = mutable.Map[String, Seq[Int]]() // Parse-declared param type oids
      val portals = mutable.Map[String, Portal]()
      val openPortals = mutable.Map[String, OpenPortal]()

      var open = true
      // PG extended-protocol error state: after an error in Parse/Bind/
      // Describe/Execute/Close the backend discards messages until Sync,
      // answers ReadyForQuery there, and the connection LIVES (PG docs
      // 55.2.3; pgjdbc batches depend on it). Frame-level violations
      // (unreadable message) stay fatal via the outer catch.
      var skipUntilSync = false
      def guarded(body: => Unit): Unit =
        try body catch {
          case NonFatal(e) =>
            out.errorResponse(sqlStateOf(e), String.valueOf(e.getMessage).take(800))
            out.flush()
            skipUntilSync = true
        }
      while (open) {
        val m = try PgWire.readMessage(in) catch { case _: EOFException => return }
        if (skipUntilSync && m.tag != 'S' && m.tag != 'X') {
          // discarded: error state persists until Sync
        } else m.tag match {
          case 'Q' =>
            // the simple protocol allows multiple ;-separated statements
            // per message (psql sends its whole buffer); each gets its
            // own result cycle, then ONE ReadyForQuery
            val raw = PgWire.cstrings(m.body).headOption.getOrElse("").trim
            logStatement(raw)
            val stmts = splitStatements(raw)
            if (stmts.isEmpty) out.emptyQueryResponse()
            else {
              // PG aborts the REST of a multi-statement buffer after the
              // first error (one ErrorResponse, then straight to
              // ReadyForQuery) — clients pipeline `DROP ...; CREATE ...;
              // INSERT ...` relying on it
              val it = stmts.iterator
              var ok = true
              while (ok && it.hasNext) it.next() match {
                case CopyInRe(table, _, cols, opts) =>
                  ok = !copyIn(sess, out, in, table, cols, opts)
                case CopyRe(source, opts) => ok = !copyOut(sess, out, source, opts)
                case one => ok = !runQuery(sess, out, one, Nil, describeOnly = false)
              }
            }
            // drop intermediates the statements' query builders persisted
            // — session-scoped, so concurrent connections are untouched;
            // gated on no suspended portal still reading a tracked plan
            if (openPortals.isEmpty) graft.util.Persist.release(sess)
            out.readyForQuery(); out.flush()
          case 'P' => guarded { // Parse: name, query, param type oids
            val pbuf = java.nio.ByteBuffer.wrap(m.body)
            val sname = readCstr(pbuf)
            statements(sname) = readCstr(pbuf)
            logStatement(statements(sname))
            // declared parameter oids drive binary-format Bind decode
            val nOids = if (pbuf.remaining() >= 2) pbuf.getShort.toInt else 0
            stmtOids(sname) = Seq.fill(nOids)(pbuf.getInt)
            out.parseComplete()
          }
          case 'B' => guarded { // Bind: portal, stmt, param formats+values, result formats
            val (portal, stmt, args, resultFormats) =
              parseBind(m.body, s => stmtOids.getOrElse(s, Nil))
            // PG errors 26000 here; silently binding an empty-SQL portal
            // would later answer EmptyQueryResponse to Execute — a write
            // the client believes succeeded that never ran
            val sql = statements.getOrElse(stmt, throw PgError("26000",
              s"""prepared statement "$stmt" does not exist"""))
            portals(portal) = Portal(sql, args, resultFormats)
            openPortals.remove(portal)
            out.bindComplete()
          }
          case 'D' => guarded { // Describe portal/statement
            val kind = m.body(0).toChar
            val name = new String(m.body, 1, m.body.length - 2, UTF_8)
            if (kind == 'S') {
              val sql = statements.getOrElse(name, "")
              if (sql.isEmpty) out.noData()
              else describe(sess, out, sql, isStatement = true)
            } else portals.get(name) match {
              case Some(p) if p.sql.nonEmpty =>
                // a portal without parameters keeps what Describe
                // analyzed, so its Execute does not analyze it again
                val df = describe(sess, out, p.sql, isStatement = false, p.resultFormats)
                if (p.args.isEmpty) portals(name) = p.copy(described = df)
              case _ => out.noData()
            }
          }
          case 'E' => guarded { // Execute portal (with row-limit suspension)
            val buf = java.nio.ByteBuffer.wrap(m.body)
            val name = readCstr(buf)
            val maxRows = if (buf.remaining() >= 4) buf.getInt else 0
            if (executePortal(sess, out, in, name, maxRows, portals, openPortals))
              skipUntilSync = true
            // portal done (not suspended) and none other in flight →
            // release this session's tracked persists
            if (openPortals.isEmpty) graft.util.Persist.release(sess)
          }
          case 'S' =>
            skipUntilSync = false
            out.readyForQuery(); out.flush()
          case 'C' => guarded { // Close
            val kind = m.body(0).toChar
            val name = new String(m.body, 1, m.body.length - 2, UTF_8)
            if (kind == 'S') { statements.remove(name); stmtOids.remove(name) }
            else { portals.remove(name); openPortals.remove(name) }
            out.msg('3')(_ => ()) // CloseComplete
          }
          case 'X' => open = false
          case _   => // Flush('H') and others: just flush
            out.flush()
        }
      }
    } catch {
      case NonFatal(e) =>
        try {
          val state = sqlStateOf(e) match {
            case "08P01" => "08P01" // malformed frame: protocol violation
            case _       => "XX000"
          }
          out.errorResponse(state, String.valueOf(e.getMessage))
          out.readyForQuery(); out.flush()
        } catch { case _: Throwable => }
    } finally {
      cancelKeys.remove(pid)
      // connection gone: nothing can read a suspended portal anymore,
      // so unconditionally drop this session's tracked cache entries
      if (connSess != null) graft.util.Persist.release(connSess)
      // replies still buffered (e.g. to messages before Terminate)
      try out.flush() catch { case _: Throwable => }
      sock.close()
    }
  }

  /** Copy the HOST session's local temp views into a fresh connection
    * session: `Tables.registerViews`-style mounts made before `serve`
    * play the role of PG permanent tables, so wire clients must see
    * them. Snapshot-at-connect: mounts made after a connection opened
    * appear to NEW connections only — matching how the reference builds
    * each connection's context from the server's catalog at accept
    * time. The connection session is new, so it holds no view yet. */
  private def shareHostTempViews(sess: SparkSession): Unit = {
    val host = spark.sessionState.catalog
    val child = sess.sessionState.catalog
    host.listLocalTempViews("*").foreach { ident =>
      host.getRawTempView(ident.table).foreach { view =>
        child.createTempView(ident.table, view, overrideIfExists = false)
      }
    }
  }

  private def authenticate(in: DataInputStream, out: PgWire.Out, user: String,
      cbind: Option[Array[Byte]] = None): Boolean =
    password match {
      case None => out.authenticationOk(); true
      case Some(pass) =>
        if (user != "postgres") { // reference auth.rs:52: fixed user
          out.errorResponse("28000", s"""role "$user" does not exist""")
          out.flush(); return false
        }
        if (auth.equalsIgnoreCase("scram-sha-256"))
          authenticateScram(in, out, user, pass, cbind)
        else {
          val salt = Array[Byte](0x12, 0x34, 0x56, 0x78)
          out.authenticationMd5(salt); out.flush()
          val m = PgWire.readMessage(in)
          val given = PgWire.cstrings(m.body).head
          val expect = md5Password(user, pass, salt)
          if (given == expect) { out.authenticationOk(); true }
          else {
            out.errorResponse("28P01", s"""password authentication failed for user "$user"""")
            out.flush(); false
          }
        }
    }

  /** SCRAM-SHA-256 server leg (RFC 5802/7677; PG >= 14's default
    * password_encryption). On a TLS connection (`cbind` carries the
    * server's own RFC 5929 end-point hash) SCRAM-SHA-256-PLUS is
    * offered as well, and a -PLUS client must echo exactly that hash
    * in c= — a TLS-terminating MITM presents a different cert and the
    * echo breaks. gs2-flag handling per RFC 5802 §6: "p=..." only with
    * -PLUS, "y" is REJECTED whenever -PLUS was on offer (a client that
    * supports binding but "thinks the server doesn't" while the server
    * plainly advertised it = downgrade attack), "n" is always legal
    * (genuinely binding-incapable client). */
  private def authenticateScram(in: DataInputStream, out: PgWire.Out,
      user: String, pass: String, cbind: Option[Array[Byte]]): Boolean = {
    def fail(msg: String): Boolean = {
      out.errorResponse("28P01", msg); out.flush(); false
    }
    val offered =
      if (cbind.isDefined) Seq(Scram.MechanismPlus, Scram.Mechanism)
      else Seq(Scram.Mechanism)
    out.authenticationSasl(offered); out.flush()
    // SASLInitialResponse: mechanism cstring + int32 payload length
    val init = PgWire.readMessage(in)
    if (init.tag != 'p') return fail("expected SASLInitialResponse")
    val buf = java.nio.ByteBuffer.wrap(init.body)
    val mechSb = new StringBuilder
    var b = buf.get()
    while (b != 0) { mechSb.append(b.toChar); b = buf.get() }
    val mech = mechSb.toString
    if (!offered.contains(mech))
      return fail(s"unsupported SASL mechanism $mech")
    val usePlus = mech == Scram.MechanismPlus
    val initLen = buf.getInt
    if (initLen < 0 || initLen > buf.remaining())
      return fail("malformed SASLInitialResponse payload")
    val initBytes = new Array[Byte](initLen)
    buf.get(initBytes)
    val clientFirst = new String(initBytes, UTF_8)
    // gs2 header: cbind-flag "," [authzid] "," then client-first-bare
    if (clientFirst.isEmpty) return fail("empty SCRAM client-first message")
    val gs2End = clientFirst.indexOf(',', clientFirst.indexOf(',') + 1)
    if (gs2End < 0) return fail("malformed gs2 header")
    val gs2Flag = clientFirst.head
    if (usePlus && !clientFirst.startsWith("p=tls-server-end-point,"))
      return fail(s"$mech requires gs2 header p=tls-server-end-point")
    if (!usePlus && gs2Flag == 'p')
      return fail("channel binding sent without the -PLUS mechanism")
    if (!usePlus && gs2Flag == 'y' && cbind.isDefined)
      return fail("SCRAM downgrade detected: client supports channel " +
        "binding but declined SCRAM-SHA-256-PLUS that this server offered")
    if (!usePlus && gs2Flag != 'n' && gs2Flag != 'y')
      return fail("malformed gs2 cbind flag")
    val gs2Header = clientFirst.substring(0, gs2End + 1)
    val clientFirstBare = clientFirst.substring(gs2End + 1)
    val clientNonce = Scram.attrs(clientFirstBare).getOrElse('r',
      return fail("client-first lacks r= nonce"))

    val salt = new Array[Byte](16)
    secretRng.nextBytes(salt)
    val iterations = 4096
    val serverNonce = clientNonce + Scram.randomNonce(secretRng)
    val serverFirst =
      s"r=$serverNonce,s=${Scram.b64(salt)},i=$iterations"
    out.authenticationSaslContinue(serverFirst.getBytes(UTF_8)); out.flush()

    // SASLResponse: raw client-final-message
    val resp = PgWire.readMessage(in)
    if (resp.tag != 'p') return fail("expected SASLResponse")
    val clientFinal = new String(resp.body, UTF_8)
    val a = Scram.attrs(clientFinal)
    if (!a.get('r').contains(serverNonce))
      return fail("SCRAM nonce mismatch")
    // c= must encode the exact gs2 header from client-first, plus —
    // for -PLUS — THIS server's certificate end-point hash (the actual
    // channel binding: a MITM's cert hashes differently)
    val expectedC = Scram.b64(gs2Header.getBytes(UTF_8) ++
      (if (usePlus) cbind.get else Array.emptyByteArray))
    if (!a.get('c').contains(expectedC))
      return fail("SCRAM channel-binding data mismatch")
    val proof = a.get('p') match {
      case Some(p) => try Scram.unb64(p) catch {
        case _: IllegalArgumentException => return fail("malformed SCRAM proof")
      }
      case None => return fail("client-final lacks p= proof")
    }
    val proofCut = clientFinal.lastIndexOf(",p=")
    if (proofCut < 0) return fail("client-final lacks p= proof")
    val withoutProof = clientFinal.substring(0, proofCut)
    val salted = Scram.saltedPassword(pass, salt, iterations)
    val authMsg = Scram.authMessage(clientFirstBare, serverFirst, withoutProof)
    if (!Scram.verifyClientProof(salted, authMsg, proof))
      return fail(s"""password authentication failed for user "$user"""")
    out.authenticationSaslFinal(
      s"v=${Scram.b64(Scram.serverSignature(salted, authMsg))}".getBytes(UTF_8))
    out.authenticationOk()
    true
  }

  /** PG MD5 scheme: "md5" + md5(md5(password + user) + salt). */
  private def md5Password(user: String, pass: String, salt: Array[Byte]): String = {
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val md = MessageDigest.getInstance("MD5")
    val inner = hex(md.digest((pass + user).getBytes(UTF_8)))
    md.reset()
    md.update(inner.getBytes(UTF_8)); md.update(salt)
    "md5" + hex(md.digest())
  }

  /** A bound portal (sql + args + requested result formats), with the
    * DataFrame its Describe analyzed until its Execute takes it. */
  private final case class Portal(sql: String, args: Seq[Any], resultFormats: Seq[Int],
      described: Option[org.apache.spark.sql.DataFrame] = None)

  /** A portal mid-execution: the row iterator and its encoder survive
    * across Execute messages until exhausted (PortalSuspended in
    * between). */
  private final class OpenPortal(
      val it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      val enc: PgWire.ResultEncoder) {
    var emitted: Long = 0L
  }

  /** pg_type oid of the `geometry` extension type (PgCompat row). */
  private val GeometryOid = 16385

  /** Which output columns carry geometry: BinaryType columns whose
    * producing expression (followed through projections/aggregates in
    * the analyzed plan) is a geometry-returning ST_* function — the PG
    * wire analogue of the reference tagging WKB with the Arrow
    * "Geometry" extension name (spatial/src/extension.rs:1-9). Columns
    * read straight from storage are untagged binary and stay bytea,
    * like any engine that loses type fidelity at an untyped boundary. */
  private[graft] def geometryFlags(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
    geometryFlags(df.queryExecution.analyzed)

  private def geometryFlags(analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[Boolean] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, ExprId, Expression, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, Union}
    val producers = mutable.Map[ExprId, Expression]()
    // a Union's output attrs reuse the FIRST child's exprIds — tagging
    // from producers alone would call a column geometry when only
    // branch 1 produces geometry. Record every branch's expression per
    // output position; the flag holds only if ALL branches agree.
    val unionBranches = mutable.Map[ExprId, Seq[Expression]]()
    analyzed.foreach {
      case p: Project =>
        p.projectList.foreach {
          case a: Alias => producers(a.exprId) = a.child
          case _        =>
        }
      case a: Aggregate =>
        a.aggregateExpressions.foreach {
          case al: Alias => producers(al.exprId) = al.child
          case _         =>
        }
      case u: Union =>
        u.output.zipWithIndex.foreach { case (attr, i) =>
          unionBranches(attr.exprId) = u.children.map(_.output(i))
        }
      case _ =>
    }
    def isGeom(e: Expression, depth: Int): Boolean = depth <= 16 && (e match {
      case u: ScalaUDF =>
        u.udfName.exists(n => SpatialFunctions.geometryProducers(n.toLowerCase))
      case a: Alias               => isGeom(a.child, depth + 1)
      case ar: AttributeReference => attrIsGeom(ar.exprId, depth + 1)
      case c: Cast                => isGeom(c.child, depth + 1)
      case _                      => false
    })
    def attrIsGeom(id: ExprId, depth: Int): Boolean =
      unionBranches.get(id) match {
        case Some(branches) => branches.forall {
          // the union's output reuses the FIRST branch's exprId — that
          // branch must resolve through producers or it would loop
          // right back into this map until the depth cap said false
          case ar: AttributeReference if ar.exprId == id =>
            producers.get(id).exists(isGeom(_, depth))
          case e => isGeom(e, depth)
        }
        case None => producers.get(id).exists(isGeom(_, depth))
      }
    analyzed.output.map { a =>
      a.dataType == org.apache.spark.sql.types.BinaryType &&
        attrIsGeom(a.exprId, 0)
    }
  }

  /** Column oids with geometry columns re-tagged from bytea. */
  private def columnOids(schema: org.apache.spark.sql.types.StructType,
      geom: Seq[Boolean]): Seq[(String, Int)] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      (f.name,
        if (geom.lift(i).contains(true)) GeometryOid else PgWire.pgOid(f.dataType))
    }

  private def readCstr(buf: java.nio.ByteBuffer): String = {
    // accumulate BYTES and decode UTF-8 once: the old per-byte toChar
    // sign-extended every byte >= 0x80, mangling non-ASCII SQL in the
    // extended protocol (Parse is the path every JDBC-class driver
    // uses; the simple protocol always decoded correctly)
    val bytes = new java.io.ByteArrayOutputStream()
    var b = buf.get()
    while (b != 0) { bytes.write(b); b = buf.get() }
    new String(bytes.toByteArray, UTF_8)
  }

  private def parseBind(body: Array[Byte],
      oidsOf: String => Seq[Int]): (String, String, Seq[Any], Seq[Int]) = {
    val buf = java.nio.ByteBuffer.wrap(body)
    val portal = readCstr(buf)
    val stmt = readCstr(buf)
    val nFormats = buf.getShort
    val formats = Seq.fill(nFormats.toInt)(buf.getShort)
    val nParams = buf.getShort
    val oids = oidsOf(stmt)
    val args = (0 until nParams).map { i =>
      val len = buf.getInt
      if (len < 0) null
      else {
        val b = new Array[Byte](len)
        buf.get(b)
        val fmt = if (formats.isEmpty) 0 else formats(i % formats.size)
        if (fmt == 0) new String(b, UTF_8)
        // binary param: decode via the Parse-declared oid (reference
        // types.rs:24-70 accepts these bound types; oid 0/undeclared
        // keeps raw bytes = bytea semantics)
        else PgWire.decodeBinaryParam(if (i < oids.size) oids(i) else 0, b)
      }
    }
    val resultFormats =
      if (buf.remaining() >= 2) {
        val n = buf.getShort
        Seq.fill(n.toInt)(buf.getShort.toInt)
      } else Nil
    (portal, stmt, args, resultFormats)
  }

  /** The one result loop: send up to `limit` rows of `rows`, each
    * framed by `enc`; returns how many were sent. */
  private def send(out: PgWire.Out,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      enc: PgWire.ResultEncoder, limit: Long = Long.MaxValue): Long = {
    var n = 0L
    while (n < limit && rows.hasNext) { out.row(enc, rows.next()); n += 1 }
    n
  }

  /** Execute with PG row-limit semantics: emit up to `maxRows` (0 = all)
    * from the portal's iterator; PortalSuspended if rows remain, else
    * CommandComplete. The rows stream partition by partition — no
    * driver materialization of the full result. */
  private def executePortal(sess: SparkSession, out: PgWire.Out, in: DataInputStream,
      name: String, maxRows: Int,
      portals: mutable.Map[String, Portal],
      openPortals: mutable.Map[String, OpenPortal]): Boolean = {
      // returns true when an ErrorResponse was answered — the caller
      // then enters the extended-protocol error state (discard until
      // Sync); execution exceptions propagate to the same state via
      // the caller's guard
      var errored = false
      val op = openPortals.get(name) match {
        case Some(existing) => Some(existing)
        case None => portals.get(name) match {
          // COPY is legal through the extended protocol too (PG spec:
          // Execute on a COPY portal starts the copy sub-protocol)
          case Some(Portal(CopyInRe(table, _, cols, opts), _, _, _)) =>
            errored = copyIn(sess, out, in, table, cols, opts); None
          case Some(Portal(CopyRe(source, opts), _, _, _)) =>
            errored = copyOut(sess, out, source, opts); None
          case Some(p @ Portal(sql, args, fmts, described)) if sql.nonEmpty =>
            if (described.isDefined) portals(name) = p.copy(described = None)
            val df = described.getOrElse(
              if (args.isEmpty) sess.sql(sql) else Prepared.execute(sess, sql, args))
            if (df.schema.isEmpty) {
              df.collect()
              out.commandComplete(commandTag(sql, writtenRows(df)))
              None
            } else {
              val o = new OpenPortal(PgWire.resultRows(df),
                PgWire.ResultEncoder(sess, df.schema, fmts, geometryFlags(df)))
              openPortals(name) = o
              Some(o)
            }
          case Some(_) => out.emptyQueryResponse(); None
          case None => // PG replies 34000 rather than staying silent
            out.errorResponse("34000", s"""portal "$name" does not exist""")
            errored = true
            None
        }
      }
      op.foreach { o =>
        o.emitted += send(out, o.it, o.enc,
          if (maxRows <= 0) Long.MaxValue else maxRows.toLong)
        if (o.it.hasNext) out.portalSuspended()
        else {
          openPortals.remove(name)
          out.commandComplete(s"SELECT ${o.emitted}")
        }
      }
      errored
    }

  // `COPY (query) TO STDOUT [options]` / `COPY table TO STDOUT [options]`
  private val CopyRe =
    "(?is)^\\s*COPY\\s+(\\(.*\\)|[\\w.\"]+)\\s+TO\\s+STDOUT\\s*(.*)$".r
  // `COPY table [(col, ...)] FROM STDIN [options]`
  private val CopyInRe =
    "(?is)^\\s*COPY\\s+([\\w.\"]+)\\s*(\\(([^)]*)\\))?\\s+FROM\\s+STDIN\\s*(.*)$".r

  /** COPY IN: stream CopyData lines into an existing table (text or
    * CSV format; unlisted columns go NULL). The ingest half of the
    * bulk path — rows are parsed, cast to the table schema, and
    * appended through the normal write path. */
  /** @return true when the COPY errored (the multi-statement buffer
    *         must abort, same as [[runQuery]]'s contract) */
  private def copyIn(sess: SparkSession, out: PgWire.Out, in: DataInputStream,
      table: String, colList: String, opts: String): Boolean = {
    val csv = opts != null && opts.toLowerCase.contains("csv")
    val binary = opts != null && opts.toLowerCase.contains("binary")
    try {
      val schema = sess.table(table).schema
      val targetCols =
        if (colList == null || colList.trim.isEmpty) schema.fieldNames.toSeq
        else colList.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
      // the per-field format-code list counts the columns BEING COPIED
      // (the column-list subset when given), not the whole table —
      // conforming clients validate this count against their own list
      out.copyInResponse(targetCols.size, binary); out.flush()
      // accumulate BYTES and decode once: clients chunk CopyData at
      // arbitrary byte boundaries, so per-message decoding would tear
      // multi-byte UTF-8 characters into replacement chars
      val buf = new java.io.ByteArrayOutputStream()
      var done = false
      var failed = false
      // the ingest edge buffers the payload on the driver (parse +
      // cast + append is one atomic write); a multi-GB COPY would OOM
      // the whole server, not just this connection — cap it LOUDLY.
      // The stream is still drained past the cap to keep protocol sync.
      val maxBytes = copyCapBytes
      var overflow = false
      while (!done) {
        val m = PgWire.readMessage(in)
        m.tag match {
          case 'd' =>
            if (!overflow && buf.size().toLong + m.body.length > maxBytes)
              overflow = true
            if (!overflow) buf.write(m.body)
          case 'c' => done = true
          case 'f' => done = true; failed = true
          case _   => // Flush/Sync interleaved: ignore
        }
      }
      if (failed) {
        out.errorResponse("57014", "COPY from stdin failed (client abort)")
        return true
      }
      if (overflow) {
        out.errorResponse("54000", // program_limit_exceeded
          s"COPY payload exceeds the server's copyMaxBytes=$maxBytes " +
            "(GRAFT_PG_COPY_MAX_BYTES); the ingest edge buffers the payload " +
            "driver-side for an atomic append — raise the cap or split the " +
            "COPY into batches")
        return true
      }
      val parsed: Seq[Seq[Option[String]]] =
        if (binary) {
          // PGCOPY rows: decode each field by its TARGET column's wire
          // oid, then render to PG text and reuse the string-cast path
          val types = targetCols.map(c => schema(schema.fieldIndex(c)).dataType)
          val zone = PgWire.sessionZone(sess)
          PgWire.parseCopyBinary(buf.toByteArray).map(_.zipWithIndex.map {
            case (f, i) => f.map(b =>
                PgWire.decodeBinaryParam(PgWire.pgOid(types(i)), b))
              .flatMap(PgWire.encodeValue(_, zone))
          })
        } else {
          val text = new String(buf.toByteArray, UTF_8)
          splitRecords(text, csv)
            .map(l => if (csv) parseCsvLine(l) else parseTextLine(l))
        }
      // strings -> Rows in target-column order, NULL for unlisted cols
      val rows = parsed.map { fields =>
        org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map { fn =>
          val i = targetCols.indexOf(fn)
          if (i < 0 || i >= fields.length) null else fields(i).orNull
        })
      }
      val strSchema = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name,
          org.apache.spark.sql.types.StringType, nullable = true)))
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.functions.{col => fcol, regexp_replace, unhex}
      val df = sess.createDataFrame(rows.asJava, strSchema)
        .select(schema.fields.map { f =>
          (f.dataType match {
            // bytea arrives as PG \x-hex text; a plain string cast
            // would store the hex characters' UTF-8 bytes instead
            case org.apache.spark.sql.types.BinaryType =>
              unhex(regexp_replace(fcol(f.name), "^\\\\x", ""))
            // TimestampType needs no re-zone here: COPY carries WALL
            // time for oid 1114, the export side renders the
            // SESSION-zone wall, and a plain cast resolves a wall
            // string through exactly that zone — the exact inverse of
            // the export rendering for any session zone. (A
            // to_utc_timestamp correction belonged to the old
            // JVM-default-zone encoders and would double-shift now.)
            case dt => fcol(f.name).cast(dt)
          }).as(f.name)
        }.toSeq: _*)
      df.write.mode("append").insertInto(table)
      out.commandComplete(s"COPY ${rows.size}")
      false
    } catch {
      case NonFatal(e) =>
        out.errorResponse(sqlStateOf(e), String.valueOf(e.getMessage).take(800))
        true
    }
  }

  /** Split the COPY payload into records: newlines terminate records,
    * but in CSV mode a newline INSIDE a quoted field is data, and an
    * empty line is a legitimate record (one empty/null field) — only
    * the final terminator is dropped. */
  private def splitRecords(text: String, csv: Boolean): Seq[String] = {
    if (text.isEmpty) return Nil
    val recs = scala.collection.mutable.Buffer[String]()
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (csv && c == '"') { inQ = !inQ; sb += c }
      else if (c == '\n' && !inQ) { recs += sb.toString.stripSuffix("\r"); sb.clear() }
      else sb += c
      i += 1
    }
    if (sb.nonEmpty) recs += sb.toString.stripSuffix("\r") // no trailing newline
    recs.toSeq
  }

  /** PG text format: tab-separated, \\N = null, backslash escapes. */
  private def parseTextLine(line: String): Seq[Option[String]] =
    line.split("\t", -1).toSeq.map { f =>
      if (f == "\\N") None
      else {
        val sb = new StringBuilder
        var i = 0
        while (i < f.length) {
          if (f(i) == '\\' && i + 1 < f.length) {
            f(i + 1) match {
              case 'n'  => sb += '\n'
              case 'r'  => sb += '\r'
              case 't'  => sb += '\t'
              case '\\' => sb += '\\'
              case c    => sb += c
            }
            i += 2
          } else { sb += f(i); i += 1 }
        }
        Some(sb.toString)
      }
    }

  /** Minimal CSV: quoted fields with doubled quotes; empty = null. */
  private def parseCsvLine(line: String): Seq[Option[String]] = {
    val fields = scala.collection.mutable.Buffer[String]()
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line(i + 1) == '"') { sb += '"'; i += 1 }
        else if (c == '"') inQ = false
        else sb += c
      } else {
        if (c == '"') inQ = true
        else if (c == ',') { fields += sb.toString; sb.clear() }
        else sb += c
      }
      i += 1
    }
    fields += sb.toString
    fields.toSeq.map(f => if (f.isEmpty) None else Some(f))
  }

  /** COPY OUT: stream the result as CopyData messages in PG text, CSV
    * or binary format — the bulk-export path (no 1024-row cap). */
  /** @return true when the COPY errored (buffer-abort contract). */
  private def copyOut(sess: SparkSession, out: PgWire.Out, source: String, opts: String): Boolean =
    try {
      val sql =
        if (source.startsWith("(")) source.substring(1, source.length - 1)
        else s"SELECT * FROM $source"
      val csv = opts.toLowerCase.contains("csv")
      val binary = opts.toLowerCase.contains("binary")
      val header = csv && opts.toLowerCase.contains("header")
      val df = sess.sql(sql)
      val schema = df.schema
      if (binary) {
        // every field is declared format-1, so a column without a real
        // binary wire form (struct/map/nested array) would be emitted as
        // UTF-8 text that a conforming client misparses — refuse instead
        val noBin = schema.fields.filterNot(f => PgWire.binaryCapable(f.dataType))
        if (noBin.nonEmpty) {
          out.errorResponse("0A000",
            "COPY BINARY unsupported for column type: " + noBin
              .map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", "))
          return true
        }
      }
      out.copyOutResponse(schema.size, binary)
      if (binary) out.copyData(PgWire.CopyBinaryHeader)
      // a binary COPY row has a DataRow's body: every field in its
      // binary form (PGCOPY file format)
      val enc = PgWire.ResultEncoder(sess, schema, Seq(if (binary) 1 else 0),
        framing =
          if (binary) PgWire.Framing.CopyBinary
          else if (csv) PgWire.Framing.CopyCsv
          else PgWire.Framing.CopyText)
      if (header) out.msg(enc.tag)(enc.csvHeader(schema.fieldNames, _))
      val n = send(out, PgWire.resultRows(df), enc)
      if (binary) out.copyData(PgWire.CopyBinaryTrailer)
      out.copyDone()
      out.commandComplete(s"COPY $n")
      false
    } catch {
      case NonFatal(e) =>
        out.errorResponse(sqlStateOf(e), String.valueOf(e.getMessage).take(800))
        true
    }

  /** Answer Describe with the statement's parameter types (for a
    * statement) and its row shape, analyzing `sql` with NULL for each
    * parameter. @return the analyzed DataFrame when it is `sql`'s own
    * (no parameter was stood in for), so Execute can run it as is. */
  private def describe(sess: SparkSession, out: PgWire.Out, sql: String, isStatement: Boolean,
      resultFormats: Seq[Int] = Nil): Option[org.apache.spark.sql.DataFrame] =
    try {
      if (isStatement) {
        val n = "\\$(\\d+)".r.findAllMatchIn(sql).map(_.group(1).toInt).maxOption.getOrElse(0)
        out.parameterDescription(Seq.fill(n)(1043)) // untyped -> varchar
      }
      val text = Prepared.rewrite(sql).replaceAll(":p\\d+", "NULL")
      // analyzing a command in SKIP mode does not run it: a command runs
      // once, at Execute, with its bound parameters. The parser reads
      // the session's conf (double-quoted identifiers), as `sess.sql` does.
      val parsed = org.apache.spark.sql.internal.SQLConf.withExistingConf(
        sess.sessionState.conf)(sess.sessionState.sqlParser.parsePlan(text))
      val qe = sess.sessionState.executePlan(parsed,
        org.apache.spark.sql.execution.CommandExecutionMode.SKIP)
      val plan = qe.analyzed
      val schema = plan.schema
      if (schema.isEmpty) out.noData()
      else {
        // requested-binary columns without a binary form degrade to
        // text, as the ResultEncoder writes them
        val effective = schema.fields.indices.map(i =>
          PgWire.resultFormat(resultFormats, i, schema(i).dataType))
        out.rowDescription(columnOids(schema, geometryFlags(plan)), effective)
      }
      val isCommand = plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command])
      // a query's QueryExecution is the same in SKIP mode; Execute runs it
      if (text == sql && !isCommand)
        Some(org.apache.spark.sql.graft.QueryExecutions.dataFrame(qe))
      else None
    } catch { case NonFatal(_) => out.noData(); None }

  private def runQuery(sess: SparkSession, out: PgWire.Out, sql: String, args: Seq[Any],
      describeOnly: Boolean, withDescription: Boolean = true): Boolean =
    // returns true when the statement errored (ErrorResponse answered):
    // the simple-protocol caller then drops the rest of its buffer
    try {
      val df = if (args.isEmpty) sess.sql(sql) else Prepared.execute(sess, sql, args)
      val schema = df.schema
      if (schema.isEmpty) { // commands (SET, BEGIN, DDL): no result set
        df.collect()
        out.commandComplete(commandTag(sql, writtenRows(df)))
      } else {
        val geom = geometryFlags(df)
        if (withDescription)
          out.rowDescription(columnOids(schema, geom))
        val n = send(out, PgWire.resultRows(df.limit(RowLimit)),
          PgWire.ResultEncoder(sess, schema, Nil, geom))
        out.commandComplete(commandTag(sql, n.toInt))
      }
      false
    } catch {
      case NonFatal(e) =>
        out.errorResponse(sqlStateOf(e), String.valueOf(e.getMessage).take(800))
        true
    }

  /** Split a simple-query buffer into statements on semicolons that
    * are outside single/double quotes, `--` line comments and
    * bracketed comments (a semicolon inside a comment or literal is
    * data, and a mis-split there errors the bogus fragment and — per
    * the abort-rest contract — kills the remainder of the client's
    * buffer). SQL-standard quote escaping is doubling ('' / ""), which
    * the toggle handles naturally; dollar-quoting is not Spark SQL.
    * Empty fragments are dropped. */
  private def splitStatements(raw: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val sb = new StringBuilder
    var inS = false // '...'
    var inD = false // "..."
    var i = 0
    while (i < raw.length) {
      val c = raw(i)
      if (!inS && !inD && c == '-' && i + 1 < raw.length && raw(i + 1) == '-') {
        // line comment: copy through end-of-line, splitting disabled
        while (i < raw.length && raw(i) != '\n') { sb += raw(i); i += 1 }
      } else if (!inS && !inD && c == '/' && i + 1 < raw.length && raw(i + 1) == '*') {
        // bracketed comment: copy through the closing */ (unterminated
        // comments copy to end-of-buffer and fail in the parser, which
        // is the right error surface)
        sb += c; sb += raw(i + 1); i += 2
        while (i < raw.length && !(raw(i) == '*' && i + 1 < raw.length && raw(i + 1) == '/')) {
          sb += raw(i); i += 1
        }
        if (i < raw.length) { sb += raw(i); sb += raw(i + 1); i += 2 }
      } else if (inS && c == '\\' && i + 1 < raw.length) {
        // Spark's default literal mode treats backslash as an escape
        // inside '...' (so '\'' does NOT close the string) — copy the
        // pair opaquely
        sb += c; sb += raw(i + 1); i += 2
      } else {
        c match {
          case '\'' if !inD => inS = !inS; sb += c; i += 1
          case '"' if !inS  => inD = !inD; sb += c; i += 1
          case ';' if !inS && !inD =>
            if (sb.toString.trim.nonEmpty) out += sb.toString.trim
            sb.clear(); i += 1
          case _ => sb += c; i += 1
        }
      }
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.toSeq
  }

  /** SQLSTATE for an ErrorResponse. Spark 4's error framework stamps
    * every classified exception with an ANSI SQLSTATE
    * (`SparkThrowable.getSqlState` — e.g. TABLE_OR_VIEW_NOT_FOUND →
    * 42P01, UNRESOLVED_COLUMN → 42703, DIVIDE_BY_ZERO → 22012,
    * CAST_OVERFLOW → 22003, PARSE_SYNTAX_ERROR → 42601), and PG clients
    * key retry/UX decisions on the code, so pass it through verbatim.
    * Cancelled Spark jobs surface as PG 57014 (query_canceled);
    * malformed frames as 08P01 (protocol_violation); unclassified
    * errors fall back to 42601 like the reference's generic handler. */
  private def sqlStateOf(e: Throwable): String = {
    e match {
      case pe: PgError => return pe.state
      case _           =>
    }
    val m = String.valueOf(e.getMessage).toLowerCase
    if (m.contains("cancelled") || m.contains("canceled")) "57014"
    else if (m.contains("invalid message length")) "08P01"
    else {
      val fromSpark = Iterator.iterate(e)(_.getCause)
        .takeWhile(_ != null).take(8)
        .collectFirst { case st: org.apache.spark.SparkThrowable
            if st.getSqlState != null && st.getSqlState.length == 5 =>
          st.getSqlState }
      fromSpark.getOrElse("42601")
    }
  }

  /** Best-effort written-row count for a command DataFrame: the write
    * node's numOutputRows metric when the executed plan exposes one
    * (InsertInto* / V2 writes), else 0. PG's INSERT tag carries the
    * true count and JDBC executeUpdate() returns it — a hardcoded 0
    * reads as "write failed" to optimistic-locking / ORM checks. */
  private def writtenRows(df: org.apache.spark.sql.DataFrame): Int =
    try {
      df.queryExecution.executedPlan match {
        case c: org.apache.spark.sql.execution.CommandResultExec =>
          c.commandPhysicalPlan.collectFirst {
            case p if p.metrics.contains("numOutputRows") =>
              p.metrics("numOutputRows").value.toInt
          }.getOrElse(0)
        case _ => 0
      }
    } catch { case NonFatal(_) => 0 }

  private def commandTag(sql: String, rows: Int): String = {
    val head = sql.trim.split("\\s+").headOption.getOrElse("").toUpperCase
    head match {
      case "SELECT" | "" => s"SELECT $rows"
      case "INSERT"      => s"INSERT 0 $rows"
      case other         => other
    }
  }
}

/** Wire error carrying a pinned SQLSTATE — thrown inside `guarded`
  * blocks where the generic Spark-throwable mapping cannot know the
  * protocol context (e.g. Bind to a missing prepared statement is
  * 26000 per the PG error-code appendix). */
private[server] final case class PgError(state: String, msg: String)
  extends RuntimeException(msg)
