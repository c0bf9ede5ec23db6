package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CyclicBarrier

import scala.collection.mutable

import graft.server.PgServer

/** Concurrent-session soak for the wire server (reference: one session
  * task per connection, server/src/postgres/server.rs:14-28): N
  * parallel clients interleaving simple queries, same-name temp views,
  * same-name prepared statements, suspended portals, and a cancel —
  * asserting per-connection isolation of every piece of session state
  * and clean release afterwards.
  */
class PgServerConcurrencySpec extends GraftSuite {

  private final class Client(port: Int) {
    val sock = new Socket("127.0.0.1", port)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)

    def startup(): (Int, Int) = {
      val body = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      d.writeInt(196608)
      for (s <- Seq("user", "postgres", "database", "postgres")) {
        d.write(s.getBytes(UTF_8)); d.writeByte(0)
      }
      d.writeByte(0)
      out.writeInt(4 + body.size); body.writeTo(out); out.flush()
      val pre = untilReady()
      val kb = java.nio.ByteBuffer.wrap(pre.find(_._1 == 'K').get._2)
      (kb.getInt, kb.getInt) // (pid, secret)
    }

    def send(tag: Char, body: Array[Byte]): Unit = {
      out.writeByte(tag); out.writeInt(4 + body.length); out.write(body); out.flush()
    }
    def query(sql: String): Unit = send('Q', sql.getBytes(UTF_8) :+ 0.toByte)

    def read(): (Char, Array[Byte]) = {
      val tag = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      (tag, body)
    }

    def untilReady(): Seq[(Char, Array[Byte])] = {
      val msgs = mutable.Buffer[(Char, Array[Byte])]()
      var m = read()
      while (m._1 != 'Z') { msgs += m; m = read() }
      msgs.toSeq
    }

    def dataRows(msgs: Seq[(Char, Array[Byte])]): Seq[Seq[Option[String]]] =
      msgs.filter(_._1 == 'D').map { case (_, body) =>
        val buf = java.nio.ByteBuffer.wrap(body)
        val n = buf.getShort
        (0 until n).map { _ =>
          val len = buf.getInt
          if (len < 0) None
          else { val b = new Array[Byte](len); buf.get(b); Some(new String(b, UTF_8)) }
        }
      }

    def scalar(sql: String): String = {
      query(sql); dataRows(untilReady()).head.head.get
    }

    def close(): Unit =
      try { send('X', Array.empty); sock.close() }
      catch { case _: java.io.IOException => }
  }

  private def cstr(s: String) = s.getBytes(UTF_8) :+ 0.toByte
  private def i32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  test("8 concurrent sessions: temp views, statements, portals stay isolated") {
    val srv = new PgServer(spark, port = 0, password = None)
    val port = srv.start()
    val n = 8
    val barrier = new CyclicBarrier(n)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        try {
          val c = new Client(port)
          c.startup()
          try {
            // every session creates the SAME-NAMED temp view with its
            // own value; a shared session would collide or bleed
            c.query(s"CREATE TEMPORARY VIEW probe AS SELECT $i AS v")
            c.untilReady()
            barrier.await() // everyone has created before anyone reads
            assert(c.scalar("SELECT v FROM probe") == i.toString,
              s"session $i read another session's temp view")
            // same-named prepared statement, per-session text
            c.send('P', cstr("s1") ++
              cstr(s"SELECT $$1 + ${i * 100} AS y") ++ Array[Byte](0, 0))
            c.send('B', cstr("p1") ++ cstr("s1") ++
              Array[Byte](0, 0) ++ Array[Byte](0, 1) ++
              i32(1) ++ "7".getBytes(UTF_8) ++ Array[Byte](0, 0))
            c.send('E', cstr("p1") ++ i32(0))
            c.send('S', Array.empty)
            barrier.await() // interleave extended-protocol traffic
            val prep = c.dataRows(c.untilReady())
            assert(prep == Seq(Seq(Some((i * 100 + 7).toString))),
              s"session $i prepared-statement result: $prep")
            // suspended portal survives interleaved traffic from others
            c.send('P', cstr("") ++
              cstr("SELECT id FROM range(10) ORDER BY id") ++ Array[Byte](0, 0))
            c.send('B', cstr("pp") ++ cstr("") ++
              Array[Byte](0, 0, 0, 0, 0, 0))
            c.send('E', cstr("pp") ++ i32(3))
            c.send('S', Array.empty)
            val first = c.untilReady()
            assert(first.exists(_._1 == 's'), "expected PortalSuspended")
            assert(c.dataRows(first).flatten.flatten == Seq("0", "1", "2"))
            barrier.await() // others run between the two Executes
            c.scalar("SELECT count(*) FROM pg_catalog.pg_type")
            c.send('E', cstr("pp") ++ i32(0))
            c.send('S', Array.empty)
            val rest = c.untilReady()
            assert(c.dataRows(rest).flatten.flatten ==
              (3 until 10).map(_.toString))
            // per-session catalog compat is wired
            assert(c.scalar("SELECT count(*) FROM pg_catalog.pg_type") == "29")
          } finally c.close()
        } catch { case t: Throwable => failures.add(t) }
      }, s"soak-client-$i")
    }
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(failures.isEmpty, {
        val f = failures.peek()
        s"${failures.size} session(s) failed, first: $f"
      })
      // no temp-view leakage into the host session
      assert(!spark.catalog.tableExists("probe"),
        "server leaked a connection-local temp view into the host session")
      // a FRESH connection sees no stale session state
      val fresh = new Client(port)
      fresh.startup()
      try {
        fresh.query("SELECT v FROM probe")
        val msgs = fresh.untilReady()
        assert(msgs.exists(_._1 == 'E'),
          "a new session could read a closed session's temp view")
      } finally fresh.close()
    } finally srv.stop()
  }

  test("4 connections scanning the same and different Parquet tables at once are row-exact") {
    val host = spark.newSession()
    Tables.registerViews(host, sf)
    val srv = new PgServer(host, port = 0, password = None)
    val port = srv.start()
    // two connections scan the same table, two scan others
    val sqls = Seq("lineitem", "lineitem", "orders", "documents").map(t => s"SELECT * FROM $t")
    def answer(c: Client, sql: String): Seq[String] = {
      c.query(sql); c.dataRows(c.untilReady()).map(_.mkString("|")).sorted
    }
    try {
      val serial = new Client(port)
      serial.startup()
      val want = try sqls.distinct.map(q => q -> answer(serial, q)).toMap finally serial.close()
      assert(want.values.forall(_.nonEmpty))
      val barrier = new CyclicBarrier(sqls.size)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = sqls.zipWithIndex.map { case (sql, i) =>
        new Thread(() => {
          try {
            val c = new Client(port)
            c.startup()
            try (1 to 3).foreach { round =>
              barrier.await()
              val got = answer(c, sql)
              assert(got == want(sql), s"connection $i round $round: $sql differs")
            } finally c.close()
          } catch { case t: Throwable => failures.add(t); barrier.reset() }
        }, s"scan-client-$i")
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(failures.isEmpty, s"${failures.size} connection(s) failed, first: ${failures.peek()}")
    } finally srv.stop()
  }

  test("cancel hits only its own connection; neighbors keep working") {
    val srv = new PgServer(spark, port = 0, password = None)
    val port = srv.start()
    val a = new Client(port)
    val b = new Client(port)
    try {
      val (pidA, secretA) = a.startup()
      b.startup()
      // A starts a long query; B works normally throughout
      a.query("SELECT max(xxhash64(concat(cast(id AS string), 'x'))) " +
        "FROM range(2000000000)")
      Thread.sleep(500)
      assert(b.scalar("SELECT 7 * 6") == "42")
      val cancelSock = new Socket("127.0.0.1", port)
      try {
        val co = new DataOutputStream(cancelSock.getOutputStream)
        co.writeInt(16); co.writeInt(80877102)
        co.writeInt(pidA); co.writeInt(secretA)
        co.flush()
      } finally cancelSock.close()
      val msgs = a.untilReady()
      val err = msgs.find(_._1 == 'E')
      assert(err.isDefined && new String(err.get._2, UTF_8).contains("57014"),
        s"expected 57014 on A, got ${msgs.map(_._1)}")
      // B was untouched by A's cancel, before and after
      assert(b.scalar("SELECT 'alive'") == "alive")
      // A's connection also survives its own cancel
      assert(a.scalar("SELECT 1 + 1") == "2")
    } finally { a.close(); b.close(); srv.stop() }
  }
}
