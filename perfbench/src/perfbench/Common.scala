package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.server.PgServer
import graft.sources.PgWireClient

/** Command-line options shared by every workload. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    fingerprints: String,
    spansDir: String,
    cores: Int,
    setups: Int,
    injectMalformed: Boolean,
    mode: String,
    out: String) {
  /** Fixture name (last path element), the key of the fingerprint file. */
  def dataName: String = new java.io.File(data).getName
}

/** JSON rendering (through json4s) of the result line, the report
  * lines and the span file: maps (insertion order kept), sequences,
  * strings, numbers and booleans. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def apply(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Canonical text of result values, used for fingerprints and for
  * comparing a wire answer with the same statement run in-process. */
object Canon {
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** External (Row) values as returned by `collect()`. */
  def ext(v: Any): String = v match {
    case null                      => "NULL"
    case b: Array[Byte]            => "x" + hex(b)
    case d: java.math.BigDecimal   => d.toPlainString
    case t: java.sql.Timestamp     => t.toInstant.toString
    case r: Row                    => (0 until r.length).map(i => ext(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => ext(k) + "->" + ext(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(ext).mkString("[", ",", "]")
    case a: Array[_]               => a.map(ext).mkString("[", ",", "]")
    case other                     => other.toString
  }

  /** Catalyst internal values (the shape the wire decoders return). */
  def internal(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _)                 => "NULL"
    case (d: Decimal, _)           => d.toJavaBigDecimal.stripTrailingZeros.toPlainString
    case (b: Array[Byte], _)       => "x" + hex(b)
    case (a: ArrayData, ArrayType(et, _)) =>
      a.toSeq[Any](et).map(internal(_, et)).mkString("[", ",", "]")
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(internal(_, et)).mkString("[", ",", "]")
    case (m: MapData, MapType(kt, vt, _)) =>
      m.keyArray.toSeq[Any](kt).zip(m.valueArray.toSeq[Any](vt))
        .map { case (k, x) => internal(k, kt) + "->" + internal(x, vt) }
        .sorted.mkString("{", ",", "}")
    case (u: UTF8String, _)        => u.toString
    case (other, _)                => other.toString
  }

  /** A collected row as internal canonical cells. */
  def rowInternal(r: Row, schema: StructType): Seq[String] =
    schema.fields.indices.map { i =>
      val dt = schema(i).dataType
      internal(CatalystTypeConverters.createToCatalystConverter(dt)(r.get(i)), dt)
    }

  /** Order-insensitive 64-bit hash of a row multiset, built from
    * per-row hashes of their cells. */
  def rowHash(cells: Seq[String]): Long = {
    val h1 = scala.util.hashing.MurmurHash3.orderedHash(cells, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.orderedHash(cells, 0x7ab1e)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  /** Row count plus an ordered SHA-256 over the canonical rows. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(ext(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, hex(md.digest()))
  }
}

/** Outcomes of the operations of one measured window. */
final class Recorder {
  private val lat = new ConcurrentLinkedQueue[(String, Double)]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val rows = new AtomicLong
  private val reasons = new ConcurrentLinkedQueue[String]()
  @volatile var startNs = 0L
  @volatile var endNs = 0L

  def begin(): Unit = startNs = System.nanoTime()
  def finish(): Unit = endNs = System.nanoTime()
  def wallS: Double = (endNs - startNs) / 1e9

  def ok(cls: String, seconds: Double, nRows: Long): Unit = {
    attempted.incrementAndGet()
    rows.addAndGet(nRows)
    lat.add((cls, seconds))
  }
  def fail(cls: String, why: String): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    if (reasons.size < 20) reasons.add(s"$cls: $why")
  }
  def latencies: Seq[(String, Double)] = lat.asScala.toSeq
  def failures: Seq[String] = reasons.asScala.toSeq

  /** The workload-independent end-to-end metrics of this window. */
  def endToEnd: Map[String, Double] = {
    val all = latencies.map(_._2)
    val perClass = latencies.groupBy(_._1).values.map(v => Stats.median(v.map(_._2))).toSeq
    Map(
      "total_s" -> perClass.sum,
      "geomean_ms" -> Stats.geomean(perClass.map(_ * 1000)),
      "ops_per_s" -> all.size / wallS,
      "p50_ms" -> Stats.median(all) * 1000,
      "p99_ms" -> Stats.quantile(all, 0.99) * 1000,
      "rows_per_s" -> rows.get / wallS)
  }

  /** Per-class sample count and median milliseconds, for the report. */
  def classSummary: Map[String, Map[String, Double]] =
    latencies.groupBy(_._1).map { case (c, v) =>
      c -> Map("n" -> v.size.toDouble, "p50_ms" -> Stats.median(v.map(_._2)) * 1000,
        "min_ms" -> v.map(_._2).min * 1000, "max_ms" -> v.map(_._2).max * 1000)
    }
}

/** One engine instance: a wired session with the fixture views mounted
  * and, for the wire workloads, a running PostgreSQL-wire server. */
final class Engine(val spark: SparkSession, val server: Option[PgServer], val port: Int) {
  def stop(): Unit = {
    server.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Engine {
  /** Set-up as a user pays it: session, fixture views, server start, and
    * the first answer (in-process, or over a fresh wire connection). */
  def start(o: Opts, serve: Boolean): Engine = {
    val spark = graft.Graft.session(s"local[${o.cores}]", appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(ExecStats)
    graft.Tables.registerViews(spark, o.data)
    if (!serve) {
      spark.sql("SELECT count(*) FROM lineitem").collect()
      new Engine(spark, None, 0)
    } else {
      val server = new PgServer(spark, 0, password = None)
      val port = server.start()
      val c = Wire.connect(port)
      try Wire.query(c, "SELECT count(*) FROM lineitem", binary = false)()
      finally c.close()
      new Engine(spark, Some(server), port)
    }
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Client-side helpers over the repository's own wire client. */
object Wire {
  final case class Result(
      fields: Array[(String, Int)],
      formats: Array[Int],
      rows: Long,
      firstRowNs: Long)

  /** Nanoseconds spent inside `fetchRowRaw` while tracing. */
  val fetchNs = new AtomicLong

  def connect(port: Int): PgWireClient =
    new PgWireClient("127.0.0.1", port, "postgres", "postgres", "")

  /** Run one statement (simple protocol, or extended protocol with
    * binary results) and stream every row to `onRow`. */
  def query(c: PgWireClient, sql: String, binary: Boolean)(
      onRow: Array[Option[Array[Byte]]] => Unit = _ => ()): Result = {
    val traced = Trace.on
    def fetch(): Array[Option[Array[Byte]]] =
      if (!traced) c.fetchRowRaw()
      else {
        val t = System.nanoTime()
        try c.fetchRowRaw() finally fetchNs.addAndGet(System.nanoTime() - t)
      }
    val t0 = System.nanoTime()
    if (binary) c.executeExtended(sql, Array(1)) else c.execute(sql)
    var n = 0L
    var r = fetch()
    val first = System.nanoTime() - t0
    while (r != null) { onRow(r); n += 1; r = fetch() }
    Result(c.fields, c.fieldFormats, n, first)
  }

  /** Decode one received cell into its canonical internal text, through
    * the federation source's decoders; arrays (which that source does
    * not read) go through the server's own binary array decoder. */
  def decodeCell(oid: Int, format: Int, cell: Option[Array[Byte]], dt: DataType): String =
    cell match {
      case None => "NULL"
      case Some(b) =>
        val zone = java.time.ZoneOffset.UTC
        dt match {
          case at: ArrayType if format == 1 =>
            Canon.internal(graft.server.PgWire.decodeBinaryParam(oid, b) match {
              case s: scala.collection.Seq[_] => s
              case a: Array[_]                => a.toSeq
              case other                      => Seq(other)
            }, at)
          case _: ArrayType =>
            new String(b, java.nio.charset.StandardCharsets.UTF_8)
          case _ =>
            val v =
              if (format == 1) graft.sources.PgNativeSource.convertBinary(oid, b, dt, zone)
              else graft.sources.PgNativeSource.convert(
                new String(b, java.nio.charset.StandardCharsets.UTF_8), dt, zone)
            Canon.internal(v, dt)
        }
    }

  /** Order-insensitive hash of raw received cells. */
  def rawRowHash(r: Array[Option[Array[Byte]]]): Long = {
    var h = 17L
    var i = 0
    while (i < r.length) {
      val c = r(i) match {
        case None    => 0x9e3779b9
        case Some(b) => java.util.Arrays.hashCode(b) * 31 + b.length
      }
      h = h * 1000003L + c
      i += 1
    }
    h ^ (h >>> 29)
  }

  def rawRowBytes(r: Array[Option[Array[Byte]]]): Long = {
    var n = 7L // message tag, length and column count
    var i = 0
    while (i < r.length) { n += 4 + r(i).fold(0)(_.length); i += 1 }
    n
  }
}
