package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.server.PgWire
import graft.sources.PgWireClient
import graft.util.Persist

/** An answer computed in-process: its schema, collected rows and their
  * canonical internal cells. */
final case class Ref(schema: StructType, rows: Array[Row], cells: Seq[Seq[String]])

/** What the wire workloads share: the engine with its server, the
  * in-process reference answers, and the client-side counters. */
abstract class WireWorkload(o: Opts) extends Workload {
  protected var eng: Engine = _
  def spark: SparkSession = eng.spark
  def port: Int = eng.port
  def setup(): Unit = eng = Engine.start(o, serve = true)
  def teardown(): Unit = eng.stop()

  protected def reference(sql: String): Ref = {
    val df = spark.sql(sql)
    val rows = df.collect()
    Ref(df.schema, rows, rows.toSeq.map(Canon.rowInternal(_, df.schema)))
  }

  protected val decodeNs = new AtomicLong
  protected val decodeCells = new AtomicLong
  protected val rowBytes = new AtomicLong
  protected val rowsSeen = new AtomicLong
  protected val firstRowNs = new ConcurrentLinkedQueue[java.lang.Long]()
  protected var leaked = 0

  /** Decode a received row with the reference column types. */
  protected def decode(res: Wire.Result, r: Array[Option[Array[Byte]]],
      schema: StructType): Seq[String] = {
    val t = System.nanoTime()
    val cells = r.indices.map(j =>
      Wire.decodeCell(res.fields(j)._2, res.formats(j), r(j), schema(j).dataType))
    decodeNs.addAndGet(System.nanoTime() - t)
    decodeCells.addAndGet(r.length)
    cells
  }

  /** Record the wire-side counters of one finished statement. */
  protected def saw(res: Wire.Result, bytes: Long): Unit = if (Trace.on) {
    rowsSeen.addAndGet(res.rows)
    rowBytes.addAndGet(bytes)
    firstRowNs.add(res.firstRowNs)
  }

  /** Median milliseconds of `n` fresh connections (startup, session
    * bootstrap, ready for query). */
  protected def connectMs(n: Int = 5): Double = Stats.median((1 to n).map { _ =>
    val t = System.nanoTime()
    val c = Trace.span("server.connect")(Wire.connect(port))
    val ms = (System.nanoTime() - t) / 1e6
    c.close()
    ms
  })

  /** Nanoseconds per cell of the server's result encoders over rows,
    * each cell in the format a binary-requesting client receives. */
  protected def encodeNsPerCell(refs: Seq[(StructType, Array[Row])]): Double = {
    val zone = java.time.ZoneOffset.UTC
    var cells = 0L
    var ns = 0L
    while (cells < 200000 && refs.exists(_._2.nonEmpty)) refs.foreach { case (schema, rows) =>
      val types = schema.fields.map(_.dataType)
      val binary = types.map(PgWire.binaryCapable)
      val t = System.nanoTime()
      var sink = 0
      rows.foreach { r =>
        var j = 0
        while (j < types.length) {
          val out =
            if (binary(j)) PgWire.encodeBinary(r.get(j), types(j), zone)
            else PgWire.encodeValue(r.get(j), zone).map(_.getBytes("UTF-8"))
          sink += out.fold(0)(_.length)
          j += 1
        }
      }
      ns += System.nanoTime() - t
      cells += rows.length.toLong * types.length
      if (sink < 0) println(sink)
    }
    if (cells == 0) 0.0 else ns.toDouble / cells
  }

  /** Wait for the server to drop every connection's tracked state. */
  protected def settleLeaks(): Unit = {
    val until = System.nanoTime() + 2000000000L
    def n = Persist.trackedCount + Persist.trackedCheckpointCount
    while (n > 0 && System.nanoTime() < until) Thread.sleep(20)
    leaked = n
  }

  protected def wireLayers(rec: Recorder): Map[String, Double] = Map(
    "server.connect_ms" -> connectMs(),
    "server.first_row_ms" -> Stats.median(firstRowNs.asScala.toSeq.map(_.toDouble / 1e6)),
    "server.bytes_per_row" -> rowBytes.get.toDouble / math.max(1L, rowsSeen.get),
    "sources.client_fetch_s" -> Wire.fetchNs.get / 1e9 / math.max(1, rec.latencies.size),
    "sources.decode_ns_per_cell" -> decodeNs.get.toDouble / math.max(1L, decodeCells.get),
    "util.persist_leaked" -> leaked.toDouble)
}

/** `wire_short`: min(4, cores) connections, each a closed-loop caller,
  * run a seeded mix of short statements; half use the simple protocol
  * and half the extended protocol with binary results. */
final class WireShort(o: Opts) extends WireWorkload(o) {
  private val Classes: Seq[(String, Int)] = Seq(
    "point" -> 25, "agg" -> 20, "catalog" -> 15, "spatial" -> 10,
    "version" -> 10, "insert" -> 15, "connect" -> 5)
  private val ReadClasses = Seq("point", "agg", "catalog", "spatial", "version")
  private var pools: Map[String, IndexedSeq[String]] = Map.empty
  private var refs: Map[String, Ref] = Map.empty
  private var conns: Array[PgWireClient] = Array.empty
  private val nextKey = new AtomicLong(1)
  private val insertedRows = new AtomicLong
  private val insertedKeySum = new AtomicLong
  private val trackedPeak = new AtomicLong
  /** Each connection appends to its own table: concurrent appends to
    * one file table collide in the file commit protocol. */
  private def table(conn: Int) = s"perfbench_ins_$conn"

  private def draw(rnd: Random): (String, String) = {
    var x = rnd.nextInt(100)
    val cls = Classes.find { case (_, w) => x -= w; x < 0 }.get._1
    cls match {
      case "insert"  => (cls, "")
      case "connect" => (cls, "SELECT 1")
      case _         => val p = pools(cls); (cls, p(rnd.nextInt(p.size)))
    }
  }

  /** 20 rows with fresh keys; the keys' sum is checked at the end. */
  private def insertSql(table: String, k0: Long): String =
    (0 until 20).map(i => s"(${k0 + i}, 'row-${k0 + i}', ${(k0 + i) * 0.5})")
      .mkString(s"INSERT INTO $table VALUES ", ", ", "")

  /** Run one statement of class `cls` on `c`: the rows it returned,
    * or why it failed. */
  private def runOne(i: Int, cls: String, sql: String, binary: Boolean): Either[String, Long] = {
    val c = conns(i)
    cls match {
      case "insert" =>
        // the wire client's extended protocol reads result rows only (it
        // rejects NoData), so writes always use the simple protocol
        val k0 = nextKey.getAndAdd(20)
        Wire.query(c, insertSql(table(i), k0), binary = false)()
        insertedRows.addAndGet(20)
        insertedKeySum.addAndGet((0 until 20).map(k0 + _).sum)
        Right(0L)
      case "connect" =>
        val c2 = Trace.span("server.connect")(Wire.connect(port))
        try answer(c2, sql, binary) finally c2.close()
      case _ => answer(c, sql, binary)
    }
  }

  /** Run a statement on connection `i`; after a failure the connection
    * is replaced, since the client may be mid-message. */
  private def attempt(i: Int, cls: String, sql: String, binary: Boolean,
      rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    val res = try Trace.op(s"client.$cls")(runOne(i, cls, sql, binary))
      catch { case NonFatal(e) => Left(e.toString) }
    res match {
      case Right(n) => rec.ok(cls, (System.nanoTime() - t0) / 1e9, n)
      case Left(why) =>
        rec.fail(cls, why)
        try conns(i).close() catch { case NonFatal(_) => }
        conns(i) = Wire.connect(port)
    }
  }

  private def answer(c: PgWireClient, sql: String, binary: Boolean): Either[String, Long] = {
    val rows = ArrayBuffer[Array[Option[Array[Byte]]]]()
    var bytes = 0L
    val res = Trace.span("sources.query")(Wire.query(c, sql, binary) { r =>
      rows += r
      bytes += Wire.rawRowBytes(r)
    })
    saw(res, bytes)
    val ref = refs.getOrElse(sql, return Left(s"no reference for $sql"))
    if (rows.size != ref.cells.size) Left(s"${rows.size} rows, expected ${ref.cells.size}: $sql")
    else rows.iterator.zip(ref.cells.iterator).collectFirst {
      case (r, want) if decode(res, r, ref.schema) != want =>
        s"answer differs from in-process for: $sql"
    }.toLeft(rows.size.toLong)
  }

  def prepare(rec: Recorder): Unit = {
    val n = math.min(4, o.cores)
    (0 to n).foreach { i =>
      spark.sql(s"CREATE TABLE ${table(i)} (k BIGINT, v STRING, x DOUBLE) USING parquet")
    }
    val rnd = new Random(o.seed)
    def pick(sql: String, n: Int): IndexedSeq[String] = {
      val all = spark.sql(sql).collect().map(_.get(0).toString).toIndexedSeq
      rnd.shuffle(all).take(n)
    }
    pools = Map(
      "point" -> pick("SELECT o_orderkey FROM orders ORDER BY 1", 8)
        .map(k => s"SELECT * FROM orders WHERE o_orderkey = $k"),
      "agg" -> pick("SELECT DISTINCT l_suppkey FROM lineitem ORDER BY 1", 6)
        .map(s => "SELECT count(*) AS n, sum(l_linenumber) AS lines, " +
          "max(l_extendedprice) AS top, min(l_shipdate) AS first_ship " +
          s"FROM lineitem WHERE l_suppkey = $s"),
      "catalog" -> pick("SELECT typname FROM pg_catalog.pg_type ORDER BY 1", 4)
        .map(t => "SELECT t.oid, t.typname, n.nspname FROM pg_catalog.pg_type t " +
          "JOIN pg_catalog.pg_namespace n ON t.typnamespace = n.oid " +
          s"WHERE t.typname = '$t' ORDER BY t.oid"),
      "spatial" -> (1 to 4).map { _ =>
        f"SELECT st_astext(st_buffer(st_point(${rnd.nextDouble() * 360 - 180}%.3f, " +
          f"${rnd.nextDouble() * 180 - 90}%.3f), ${0.5 + rnd.nextDouble() * 4}%.2f)) AS wkt"
      },
      "version" -> IndexedSeq("SELECT version()", "SELECT current_schema()"))
    val all = pools.values.flatten.toIndexedSeq :+ "SELECT 1"
    val computed = new java.util.concurrent.ConcurrentHashMap[String, Ref]()
    parallel(0 until n)(i => all.indices.filter(_ % n == i).foreach { j =>
      computed.put(all(j), reference(all(j)))
    })
    refs = computed.asScala.toMap
    conns = Array.fill(n)(Wire.connect(port))
    // warm every connection and verify every pooled statement once, in
    // both protocols
    val statements = pools.toSeq.flatMap { case (cls, p) => p.map(cls -> _) } ++
      conns.indices.map(_ => "insert" -> "")
    parallel(conns.indices) { i =>
      statements.zipWithIndex.filter(_._2 % n == i).foreach { case ((cls, sql), j) =>
        attempt(i, cls, sql, binary = j % 2 == 0, rec)
      }
    }
  }

  private def parallel(ids: Seq[Int])(body: Int => Unit): Unit = {
    val threads = ids.map(i => new Thread(() => body(i), s"perfbench-client-$i"))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def window(rec: Recorder, seconds: Double): Unit = {
    rec.begin()
    val deadline = rec.startNs + (seconds * 1e9).toLong
    parallel(conns.indices) { i =>
      val rnd = new Random(o.seed * 7919L + i + (if (Trace.on) 104729L else 0L))
      var malformed = o.injectMalformed && i == 0
      while (System.nanoTime() < deadline) {
        val (cls, sql) = if (malformed) ("malformed", "SELEC 1") else draw(rnd)
        malformed = false
        attempt(i, cls, sql, rnd.nextBoolean(), rec)
        trackedPeak.accumulateAndGet(
          Persist.trackedCount + Persist.trackedCheckpointCount, math.max)
      }
    }
    rec.finish()
  }

  def finish(rec: Recorder): Unit = {
    val r = spark.sql(conns.indices.map(i => s"SELECT k FROM ${table(i)}")
      .mkString("SELECT count(*), coalesce(sum(k), 0) FROM (", " UNION ALL ", ")"))
      .collect().head
    if (r.getLong(0) != insertedRows.get || r.getLong(1) != insertedKeySum.get)
      rec.fail("insert", s"table holds ${r.getLong(0)} rows (key sum ${r.getLong(1)}), " +
        s"expected ${insertedRows.get} (${insertedKeySum.get})")
    conns.foreach(_.close())
    settleLeaks()
    if (leaked > 0) rec.fail("persist", s"$leaked tracked intermediates survived disconnect")
  }

  def layers(rec: Recorder): Map[String, Double] = {
    // the same statements in-process, one after another
    val inproc = ReadClasses.map { cls =>
      cls -> Stats.median(pools(cls).map { sql =>
        val t = System.nanoTime(); spark.sql(sql).collect(); (System.nanoTime() - t) / 1e6
      })
    }.toMap
    val wire = rec.latencies.groupBy(_._1).map { case (c, v) => c -> Stats.median(v.map(_._2 * 1000)) }
    val writeInproc = Stats.median((1 to 5).map { i =>
      val t = System.nanoTime()
      spark.sql(insertSql(table(conns.length), -1000L * i)).collect()
      (System.nanoTime() - t) / 1e6
    })
    wireLayers(rec) ++ Map(
      "server.overhead_ms" -> ReadClasses.flatMap(c => wire.get(c).map(_ - inproc(c))).sum /
        ReadClasses.count(wire.contains).max(1),
      "server.write_inproc_ms" -> writeInproc,
      "server.encode_ns_per_cell" -> encodeNsPerCell(refs.values.map(r => (r.schema, r.rows)).toSeq),
      "util.persist_tracked_peak" -> trackedPeak.get.toDouble)
  }

  def notMeasured: Set[String] = Set("queries.builder_s", "sources.federated_s")
}

/** `wire_bulk`: one connection pulls whole tables through the extended
  * protocol in binary, and a self-federated `postgres_scan` of
  * `lineitem` is materialized with a `noop` write. */
final class WireBulk(o: Opts) extends WireWorkload(o) {
  private val Tables = Seq("lineitem", "events", "documents", "embeddings")
  private val Classes = Tables.map("scan." + _) :+ "federated"
  private var conn: PgWireClient = _
  private var refs: Map[String, Ref] = Map.empty
  private val expectedRaw = scala.collection.mutable.Map[String, (Long, Long)]()
  private var trackedPeak = 0
  private def fedSql = s"SELECT * FROM postgres_scan('postgres://127.0.0.1:$port', " +
    "'postgres', 'lineitem')"

  private def multiset(cells: Iterator[Seq[String]]): (Long, Long) =
    cells.foldLeft((0L, 0L)) { case ((n, h), c) => (n + 1, h + Canon.rowHash(c)) }

  def prepare(rec: Recorder): Unit = {
    spark.conf.set("spark.graft.federation.pg_native", "true")
    refs = Tables.map(t => t -> reference(s"SELECT * FROM $t")).toMap
    conn = Wire.connect(port)
    // verification pass: decode every received cell and compare the
    // row multiset with the in-process read; the raw-cell hash of a
    // verified answer checks every later pass
    Tables.foreach { t =>
      val ref = refs(t)
      var got = (0L, 0L)
      var raw = 0L
      val t0 = System.nanoTime()
      val rows = ArrayBuffer[Array[Option[Array[Byte]]]]()
      try {
        val res = Wire.query(conn, s"SELECT * FROM $t", binary = true) { r =>
          rows += r
          raw += Wire.rawRowHash(r)
        }
        got = multiset(rows.iterator.map(decode(res, _, ref.schema)))
        val want = multiset(ref.cells.iterator)
        if (got == want) {
          expectedRaw(t) = (res.rows, raw)
          rec.ok(s"scan.$t", (System.nanoTime() - t0) / 1e9, res.rows)
        } else rec.fail(s"scan.$t", s"wire rows differ from in-process: $got vs $want")
      } catch { case NonFatal(e) => rec.fail(s"scan.$t", e.toString) }
    }
    try {
      val t0 = System.nanoTime()
      val df = spark.sql(fedSql)
      val got = multiset(df.collect().iterator.map(Canon.rowInternal(_, df.schema)))
      val want = multiset(refs("lineitem").cells.iterator)
      if (got == want) rec.ok("federated", (System.nanoTime() - t0) / 1e9, 0)
      else rec.fail("federated", s"federated rows differ from in-process: $got vs $want")
    } catch { case NonFatal(e) => rec.fail("federated", e.toString) }
    Persist.releaseAll()
    // the per-pass times still fall over the first passes while the JIT
    // compiles the streaming path: one more checked pass, untimed
    pass(rec, -1)
  }

  /** Closed loop over whole seeded passes, at least
    * [[WireBulk.MinPasses]] and on until `seconds` have passed, so every
    * class's median has the same, sufficient number of samples. */
  def window(rec: Recorder, seconds: Double): Unit = {
    rec.begin()
    val deadline = rec.startNs + (seconds * 1e9).toLong
    var n = 1
    while (n <= WireBulk.MinPasses || System.nanoTime() < deadline) {
      pass(rec, n)
      n += 1
    }
    rec.finish()
  }

  private def pass(rec: Recorder, n: Int): Unit =
    new Random(o.seed * 1000003L + n).shuffle(Classes).foreach { cls =>
      val t0 = System.nanoTime()
      val err = try Trace.op(s"client.$cls") {
        if (cls == "federated") {
          Trace.span("sources.federated")(
            spark.sql(fedSql).write.format("noop").mode("overwrite").save())
          None
        } else {
          val t = cls.stripPrefix("scan.")
          var raw = 0L
          var bytes = 0L
          val res = Trace.span("sources.query")(Wire.query(conn, s"SELECT * FROM $t", binary = true) { r =>
            raw += Wire.rawRowHash(r)
            bytes += Wire.rawRowBytes(r)
          })
          saw(res, bytes)
          rec.rows.addAndGet(res.rows)
          if (expectedRaw.get(t).contains((res.rows, raw))) None
          else Some(s"$t: ${res.rows} rows with a different content hash")
        }
      } catch { case NonFatal(e) => Some(e.toString) }
      err match {
        case None      => rec.ok(cls, (System.nanoTime() - t0) / 1e9, 0)
        case Some(why) => rec.fail(cls, why)
      }
      trackedPeak = math.max(trackedPeak, Persist.trackedCount + Persist.trackedCheckpointCount)
    }

  def finish(rec: Recorder): Unit = {
    conn.close()
    settleLeaks()
    if (leaked > 0) rec.fail("persist", s"$leaked tracked intermediates survived disconnect")
  }

  def layers(rec: Recorder): Map[String, Double] = {
    val wire = rec.latencies.groupBy(_._1).map { case (c, v) => c -> Stats.median(v.map(_._2 * 1000)) }
    val overhead = Tables.flatMap { t =>
      wire.get(s"scan.$t").map { w =>
        val inproc = Stats.median((1 to 3).map { _ =>
          val s = System.nanoTime(); spark.sql(s"SELECT * FROM $t").collect()
          (System.nanoTime() - s) / 1e6
        })
        w - inproc
      }
    }
    wireLayers(rec) ++ Map(
      "server.overhead_ms" -> overhead.sum / math.max(1, overhead.size),
      "server.encode_ns_per_cell" -> encodeNsPerCell(refs.values.map(r => (r.schema, r.rows)).toSeq),
      "sources.federated_s" -> wire.getOrElse("federated", Double.NaN) / 1000,
      "util.persist_tracked_peak" -> trackedPeak.toDouble)
  }

  def notMeasured: Set[String] = Set("queries.builder_s", "server.write_inproc_ms")
}

object WireBulk {
  /** Passes per window: one pass takes about 2.3 s on sf0.01 with four
    * cores. On a shared host, runs differ mostly by the host's speed,
    * which drifts over minutes: the medians of the first five passes
    * after the warm-up spread less over seeds than those of eight or
    * twelve, and a shorter run leaves the host less time to drift
    * within a set of runs. */
  val MinPasses = 5
}
