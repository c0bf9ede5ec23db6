package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `postgres_scan` over the repo's own wire client — the JDBC-free
  * path. The reference's postgres_scan is a NATIVE protocol client
  * (udtf/postgres_scan.rs:18-52, rust-postgres underneath), not a JDBC
  * bridge; this DataSource V2 is the Spark counterpart, used by
  * [[Federation]] as the automatic fallback when no pgjdbc jar is on
  * the classpath (pgjdbc stays preferred when present — it covers
  * SCRAM/TLS and every exotic type).
  *
  * Scale posture mirrors the JDBC leg: filter + projection pushdown
  * compile into the SQL shipped over the wire (the remote engine prunes
  * before bytes move), and the optional range-partition spec fans the
  * scan out to N independent wire connections, each with its own
  * bounded-range predicate — Spark JDBC's partitioning contract
  * (first partition takes the below-range + NULLs, last takes the
  * above-range) re-implemented on the native transport. Rows stream
  * one protocol message at a time; nothing buffers a whole partition.
  * Each column gets one [[PgNativeSource.CellDecoder]], resolved when
  * the RowDescription arrives, that reads its cell straight from the
  * DataRow body into the Catalyst value.
  */
final class PgNativeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgwire"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = PgNativeOptions(options.asCaseSensitiveMap.asScala.toMap)
    val cli = o.connect()
    try {
      val fields = cli.describe(s"SELECT * FROM ${o.table} LIMIT 0")
      StructType(fields.map { case (name, oid) =>
        StructField(name, PgNativeSource.typeFor(oid, o.preferTimestampNtz))
      })
    } finally cli.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgNativeTable(schema, properties.asScala.toMap)
}

object PgNativeSource {
  /** PG type oid -> Spark type — the inverse of the server-side map
    * (server/PgWire.scala:184-206). RowDescription carries no typmod
    * from this server, so numeric falls to the JDBC-default (38,18);
    * unknown oids pass through as text, the PG catch-all.
    *
    * Timestamp mapping matches the pgjdbc leg's default (both 1114
    * `timestamp` and 1184 `timestamptz` -> TimestampType, Spark JDBC's
    * own choice) so an identical postgres_scan keeps one schema
    * whichever client leg a container happens to engage. `preferNtz`
    * is the native analogue of Spark JDBC's preferTimestampNTZ: 1114
    * maps to TimestampNTZType instead (1184 always carries an instant
    * and stays TimestampType, as in Spark JDBC). */
  def typeFor(oid: Int, preferNtz: Boolean = false): DataType = oid match {
    case 16          => BooleanType
    case 18          => ByteType
    case 21          => ShortType
    case 23          => IntegerType
    case 20          => LongType
    case 700         => FloatType
    case 701         => DoubleType
    case 17          => BinaryType
    case 1082        => DateType
    case 1114        => if (preferNtz) TimestampNTZType else TimestampType
    case 1184        => TimestampType
    case 1700        => DecimalType(38, 18)
    case _           => StringType
  }

  /** Text wire value -> Catalyst internal value for the column type.
    * `zone` resolves zone-less oid-1114 walls into instants — the scan
    * captures the READING session's spark.sql.session.timeZone, the
    * zone an engine-compatible server RENDERED the wall in. */
  def convert(text: String, dt: DataType,
      zone: java.time.ZoneId = java.time.ZoneId.systemDefault()): Any = dt match {
    case StringType  => UTF8String.fromString(text)
    case LongType    => text.trim.toLong
    case IntegerType => text.trim.toInt
    case ShortType   => text.trim.toShort
    case DoubleType  => parseFloat(text).toDouble
    case FloatType   => parseFloat(text).toFloat
    case BooleanType => text == "t" || text == "true"
    case BinaryType  => // \x-prefixed hex (PG bytea hex format)
      val hexDigits = if (text.startsWith("\\x")) text.substring(2) else text
      hexDigits.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    case ByteType =>
      // PG "char" (oid 18) renders as the CHARACTER on a real server
      // ('r' in pg_class.relkind); the repo's own server renders Spark
      // ByteType numerically — accept both
      val t = text.trim
      if (t.length == 1 && !t.charAt(0).isDigit) t.charAt(0).toByte
      else t.toByte
    case DateType =>
      java.time.LocalDate.parse(text).toEpochDay.toInt
    case TimestampNTZType =>
      // timestamptz (oid 1184) text from a real server carries a zone
      // offset suffix ("+00", "-05:30"); normalize to UTC wall time.
      // timestamp (1114) has no suffix and parses directly.
      val m = TzSuffix.findFirstMatchIn(text)
      val (wall, offsetSecs) = m match {
        case Some(mm) =>
          val off = java.time.ZoneOffset.of(mm.group(1))
          (text.substring(0, mm.start), off.getTotalSeconds.toLong)
        case None => (text, 0L)
      }
      val ldt = java.time.LocalDateTime.parse(wall.replace(' ', 'T'))
      (ldt.toEpochSecond(java.time.ZoneOffset.UTC) - offsetSecs) * 1000000L +
        ldt.getNano / 1000L
    case TimestampType =>
      // instant micros. timestamptz text carries its offset; plain
      // timestamp (no suffix) is a zone-less wall time resolved through
      // the READING session's zone — the engine-compatible server
      // rendered the wall in ITS session zone (UTC by every entry
      // point's convention), so matching zones preserve instants across
      // hosts regardless of either JVM's default TZ. (pgjdbc resolves
      // through the JVM default zone instead; the legs agree whenever
      // default TZ == session TZ — every container so far — and the
      // divergence on non-UTC hosts is deliberate: the pgjdbc rule is
      // what shifted COPY/wire instants between differently-zoned
      // hosts, the round-11 ADVICE defect.)
      val m = TzSuffix.findFirstMatchIn(text)
      m match {
        case Some(mm) =>
          val off = java.time.ZoneOffset.of(mm.group(1))
          val ldt = java.time.LocalDateTime.parse(
            text.substring(0, mm.start).replace(' ', 'T'))
          ldt.toEpochSecond(off) * 1000000L + ldt.getNano / 1000L
        case None =>
          val ldt = java.time.LocalDateTime.parse(text.replace(' ', 'T'))
          val zdt = ldt.atZone(zone)
          zdt.toEpochSecond * 1000000L + zdt.getNano / 1000L
      }
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(text), d.precision, d.scale)
    case other =>
      throw new IllegalArgumentException(s"pgwire: unsupported read type $other")
  }

  /** Types the reader requests in BINARY result format (format code
    * 1): fixed-width wire forms that decode without a text parse, plus
    * bytea (raw pass-through) and numeric (base-10000 groups, cheaper
    * than BigDecimal text for wide values). Strings stay text — their
    * binary form IS the text bytes. */
  def binaryFormatFor(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | BinaryType | DateType => true
    case TimestampType | TimestampNTZType               => true
    case _: DecimalType                                 => true
    case _                                              => false
  }

  /** Binary wire cell -> Catalyst internal value. Decode keys on the
    * column's RowDescription oid (graft.server.PgWire.decodeBinaryParam
    * — the battle-tested inverse the server uses for bound
    * parameters), then adapts to the expected Spark type; numeric
    * widenings cover a user-supplied schema wider than the remote
    * column. */
  def convertBinary(oid: Int, bytes: Array[Byte], dt: DataType,
      zone: java.time.ZoneId = java.time.ZoneId.systemDefault()): Any = {
    val v = graft.server.PgWire.decodeBinaryParam(oid, bytes)
    (v, dt) match {
      case (b: Boolean, BooleanType)            => b
      case (b: Byte, ByteType)                  => b
      case (n: Short, ShortType)                => n
      case (n: Int, IntegerType)                => n
      case (n: Long, LongType)                  => n
      case (f: Float, FloatType)                => f
      case (d: Double, DoubleType)              => d
      case (n: java.lang.Number, LongType)      => n.longValue()
      case (n: java.lang.Number, IntegerType)   => n.intValue()
      case (n: java.lang.Number, ShortType)     => n.shortValue()
      case (n: java.lang.Number, DoubleType)    => n.doubleValue()
      case (n: java.lang.Number, FloatType)     => n.floatValue()
      case (b: Array[Byte], BinaryType)         => b
      case (d: java.time.LocalDate, DateType)   => d.toEpochDay.toInt
      case (t: java.time.LocalDateTime, TimestampNTZType) =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
      case (t: java.time.LocalDateTime, TimestampType) =>
        // zone-less wall time resolved through the reading session's
        // zone, the same rule (and rationale) as the text path above
        val zdt = t.atZone(zone)
        zdt.toEpochSecond * 1000000L + zdt.getNano / 1000L
      case (t: java.time.Instant, TimestampType) =>
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      case (t: java.time.Instant, TimestampNTZType) =>
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      case (bd: java.math.BigDecimal, d: DecimalType) =>
        org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale)
      case (s: String, _) => convert(s, dt, zone) // remote column was text-ish
      case (other, StringType) => UTF8String.fromString(other.toString)
      case (other, _) => throw new IllegalArgumentException(
        s"pgwire: cannot adapt binary oid $oid value " +
          s"(${other.getClass.getSimpleName}) to $dt")
    }
  }

  /** Reads one non-null wire cell, `b[off, off + len)`, into column
    * `i` of a Catalyst row. The value is the one [[convertBinary]]
    * (binary cells) or [[convert]] (text cells) gives. */
  private[graft] abstract class CellDecoder {
    def decode(b: Array[Byte], off: Int, len: Int, row: InternalRow, i: Int): Unit
  }

  /** The decoder of a column of Spark type `dt` that arrives with type
    * `oid` in `format` (0 text, 1 binary): a direct read for the common
    * pairs, and otherwise [[convertBinary]] / [[convert]], chosen here
    * once for the column. */
  private[graft] def cellDecoder(oid: Int, format: Int, dt: DataType,
      zone: java.time.ZoneId): CellDecoder = {
    import graft.server.PgWire.{PgEpochDay, PgEpochMicros}
    def int(b: Array[Byte], o: Int): Int =
      (b(o) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    def long(b: Array[Byte], o: Int): Long =
      (int(b, o).toLong << 32) | (int(b, o + 4) & 0xffffffffL)
    val utcOffsetMicros: Option[Long] = {
      val rules = zone.getRules
      if (rules.isFixedOffset)
        Some(rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000000L)
      else None
    }
    val text: CellDecoder = (b, off, len, row, i) =>
      row.update(i, convert(new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8), dt, zone))
    if (format != 1) dt match {
      case StringType => Utf8Cell
      case _          => text
    } else (oid, dt) match {
      case (16, BooleanType) => (b, off, _, row, i) => row.setBoolean(i, b(off) != 0)
      case (18, ByteType)    => (b, off, _, row, i) => row.setByte(i, b(off))
      case (21, ShortType)   => (b, off, _, row, i) =>
        row.setShort(i, ((b(off) << 8) | (b(off + 1) & 0xff)).toShort)
      case (23, IntegerType) => (b, off, _, row, i) => row.setInt(i, int(b, off))
      case (20, LongType)    => (b, off, _, row, i) => row.setLong(i, long(b, off))
      case (700, FloatType)  => (b, off, _, row, i) =>
        row.setFloat(i, java.lang.Float.intBitsToFloat(int(b, off)))
      case (701, DoubleType) => (b, off, _, row, i) =>
        row.setDouble(i, java.lang.Double.longBitsToDouble(long(b, off)))
      case (17, BinaryType)  => (b, off, len, row, i) =>
        row.update(i, java.util.Arrays.copyOfRange(b, off, off + len))
      case (25 | 1043 | 1042 | 19, StringType) => Utf8Cell
      case (1082, DateType)  => (b, off, _, row, i) => row.setInt(i, (PgEpochDay + int(b, off)).toInt)
      case (1114, TimestampNTZType) | (1184, TimestampNTZType) | (1184, TimestampType) =>
        (b, off, _, row, i) => row.setLong(i, PgEpochMicros + long(b, off))
      // a zone-less wall through a fixed-offset reading zone
      case (1114, TimestampType) if utcOffsetMicros.isDefined =>
        val shift = utcOffsetMicros.get
        (b, off, _, row, i) => row.setLong(i, PgEpochMicros + long(b, off) - shift)
      case (1700, d: DecimalType) => (b, off, len, row, i) =>
        row.update(i, org.apache.spark.sql.types.Decimal(graft.server.PgWire
          .decodeNumericBinary(java.nio.ByteBuffer.wrap(b, off, len)), d.precision, d.scale))
      case _ => (b, off, len, row, i) =>
        row.update(i, convertBinary(oid, java.util.Arrays.copyOfRange(b, off, off + len), dt, zone))
    }
  }

  /** A string cell as its own bytes when they are well-formed UTF-8
    * (what decoding and re-encoding returns), else through a String. */
  private val Utf8Cell: CellDecoder = (b, off, len, row, i) =>
    row.update(i,
      if (graft.server.PgWire.wellFormedUtf8(b,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len))
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, off, off + len))
      else UTF8String.fromString(
        new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8)))

  /** trailing zone offset of PG timestamptz text: +HH, +HH:MM, +HH:MM:SS */
  private val TzSuffix = "([+-]\\d{2}(?::?\\d{2}){0,2})$".r

  private def parseFloat(text: String): Double = text match {
    case "NaN"       => Double.NaN
    case "Infinity"  => Double.PositiveInfinity
    case "-Infinity" => Double.NegativeInfinity
    case t           => t.toDouble
  }

  def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""
}

/** Connection + scan options; keys normalized to lower case (the V2
  * CaseInsensitiveStringMap lower-cases, the getTable properties map
  * does not — normalize once here so both paths agree). */
private final case class PgNativeOptions(rawOpts: Map[String, String]) {
  private val opts: Map[String, String] =
    rawOpts.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private def req(k: String): String = opts.getOrElse(k,
    throw new IllegalArgumentException(s"pgwire source: missing option '$k'"))
  val host: String = req("host")
  val port: Int = req("port").toInt
  val database: String = req("database")
  val user: String = opts.getOrElse("user", "postgres")
  val password: String = opts.getOrElse("password", "")
  /** table name, quoted unless the caller already supplied a quoted or
    * schema-qualified form */
  val table: String = {
    val t = req("table")
    if (t.contains("\"") || t.contains(".") || t.contains("(")) t
    else PgNativeSource.quoteIdent(t)
  }
  val partition: Option[(String, Long, Long, Int)] =
    opts.get("partitioncolumn").map { col =>
      (PgNativeSource.quoteIdent(col), req("lowerbound").toLong,
        req("upperbound").toLong, req("numpartitions").toInt)
    }
  /** Spark JDBC preferTimestampNTZ analogue: map oid 1114 to
    * TimestampNTZType instead of the JDBC-default TimestampType. */
  val preferTimestampNtz: Boolean =
    opts.get("prefer_timestamp_ntz").exists(_.toBoolean)
  /** "binary" (default): extended-protocol reads with binary result
    * format for fixed-width columns — no per-cell text parse, and no
    * simple-protocol row cap. "text": legacy simple-protocol reads. */
  val resultFormat: String = {
    val f = opts.getOrElse("result_format", "binary")
    require(f == "binary" || f == "text",
      s"pgwire: result_format must be 'binary' or 'text', got '$f'")
    f
  }
  /** libpq sslmode ladder: disable (default) / prefer / require /
    * verify-ca / verify-full; the verify modes need `sslrootcert`
    * (PEM CA bundle, libpq's parameter of the same name). */
  val sslMode: String = {
    val m = opts.getOrElse("sslmode", "disable")
    require(Set("disable", "prefer", "require", "verify-ca", "verify-full")(m),
      s"pgwire: sslmode must be disable, prefer, require, verify-ca or " +
        s"verify-full, got '$m'")
    m
  }
  val sslRootCert: Option[String] = opts.get("sslrootcert")
  require(!sslMode.startsWith("verify") || sslRootCert.nonEmpty,
    s"pgwire: sslmode=$sslMode requires sslrootcert=<PEM CA bundle>")
  // the inverse contradiction: a CA bundle with TLS disabled would be
  // silently ignored — fail loudly instead (require+sslrootcert is
  // honored as verify-ca per libpq; prefer keeps libpq's no-verify
  // semantics, so only 'disable' is an outright conflict)
  require(sslRootCert.isEmpty || sslMode != "disable",
    "pgwire: sslrootcert supplied but sslmode=disable — the CA bundle " +
      "would be silently ignored; set sslmode=require, verify-ca or " +
      "verify-full")
  def connect(): PgWireClient =
    new PgWireClient(host, port, database, user, password, sslMode, sslRootCert)
}

private final class PgNativeTable(tableSchema: StructType, opts: Map[String, String])
    extends Table with SupportsRead {
  private val o = PgNativeOptions(opts)
  override def name(): String = s"pgwire:${o.host}:${o.port}/${o.database}/${o.table}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PgNativeScanBuilder(tableSchema, o)
}

private final class PgNativeScanBuilder(full: StructType, o: PgNativeOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f => PgFilterSql.compile(f).isDefined)
    pushed = ok
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new PgNativeScan(required, pushed, o)
}

/** Spark source Filter -> SQL text (the subset with exact PG
  * semantics; anything else stays unhandled and Spark re-evaluates).
  * STRING range comparisons are deliberately NOT compiled: the remote
  * database orders strings by its collation (glibc en_US & co.), Spark
  * by binary UTF-8 — a pushed `name > 'b'` could drop rows Spark's
  * semantics keep, and a dropped row cannot be recovered by
  * re-filtering. String equality/IN stay pushed (PG's default
  * collations are deterministic: equal means byte-equal). */
private object PgFilterSql {
  private def ordered(v: Any): Option[Any] = v match {
    case null                        => None
    case _: String | _: UTF8String  => None // collation-sensitive
    case other                       => Some(other)
  }
  def compile(f: Filter): Option[String] = f match {
    case EqualTo(a, v)            => lit(v).map(l => s"${q(a)} = $l")
    case GreaterThan(a, v)        => ordered(v).flatMap(lit).map(l => s"${q(a)} > $l")
    case GreaterThanOrEqual(a, v) => ordered(v).flatMap(lit).map(l => s"${q(a)} >= $l")
    case LessThan(a, v)           => ordered(v).flatMap(lit).map(l => s"${q(a)} < $l")
    case LessThanOrEqual(a, v)    => ordered(v).flatMap(lit).map(l => s"${q(a)} <= $l")
    case IsNull(a)                => Some(s"${q(a)} IS NULL")
    case IsNotNull(a)             => Some(s"${q(a)} IS NOT NULL")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.map(lit)
      if (ls.forall(_.isDefined))
        Some(s"${q(a)} IN (${ls.flatten.mkString(", ")})")
      else None
    case And(l, r) =>
      for (ls <- compile(l); rs <- compile(r)) yield s"($ls AND $rs)"
    case Or(l, r) =>
      for (ls <- compile(l); rs <- compile(r)) yield s"($ls OR $rs)"
    case Not(c) => compile(c).map(s => s"NOT ($s)")
    case _      => None
  }

  private def q(name: String): String = PgNativeSource.quoteIdent(name)

  private def lit(v: Any): Option[String] = v match {
    case null                  => None
    case s: String             => Some("'" + s.replace("'", "''") + "'")
    case s: UTF8String         => lit(s.toString)
    case b: Boolean            => Some(if (b) "TRUE" else "FALSE")
    case _: Byte | _: Short | _: Int | _: Long => Some(v.toString)
    // Float comparisons are NOT pushed: PG evaluates `float4col = 0.1`
    // after promoting BOTH sides to float8/numeric, where the shortest
    // text form of a Float (e.g. "0.1") is a DIFFERENT number than the
    // float4 bit pattern Spark compares against — a pushed predicate
    // could drop rows Spark semantics keep, and pushed filters are not
    // re-checked. Doubles are exact: PG float8 = Spark double, and the
    // shortest-round-trip text parses back to the identical value.
    case _: Float => None
    case d: Double if !d.isNaN && !d.isInfinite  => Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal           => Some(d.bigDecimal.toPlainString)
    case d: java.sql.Date        => Some(s"DATE '$d'")
    case d: java.time.LocalDate  => Some(s"DATE '$d'")
    case t: java.sql.Timestamp   =>
      // the remote resolves a zone-less TIMESTAMP literal in ITS
      // session zone — render the wall in the reading session's zone
      // (compile runs on the driver at planning time), matching the
      // read path's wall↔instant rule; Timestamp.toString would bake
      // in the JVM default zone instead
      val zone = org.apache.spark.sql.SparkSession.getActiveSession
        .map(graft.server.PgWire.sessionZone)
        .getOrElse(java.time.ZoneId.systemDefault())
      // timestampWall, not LocalDateTime.ofInstant: Catalyst hands
      // pushdown values as hybrid-rebased java.sql.Timestamp, so for
      // pre-1900 instants the plain instant→zone wall is shifted by the
      // Julian/Gregorian delta and the pushed predicate would select
      // different rows than Spark's own residual evaluation
      val wall = graft.server.PgWire.timestampWall(t, zone)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      Some(s"TIMESTAMP '$wall'")
    case _                       => None
  }
}

private final class PgNativeScan(required: StructType, pushed: Array[Filter],
    o: PgNativeOptions) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // rendered into the physical plan via DataSourceV2ScanExecBase's
  // scan.description() — the e2e test asserts pushdown from here AND
  // from the server's statement log (both sides of the wire)
  override def description(): String = {
    val filters = pushed.map(_.toString).mkString(", ")
    s"PgWireScan ${o.table} PushedFilters: [$filters], " +
      s"ResultFormat: ${o.resultFormat}, " +
      s"ReadSchema: ${required.catalogString}"
  }

  /** Spark JDBC's range-partition contract on the native transport:
    * stride = (upper - lower) / n; partition 0 is unbounded below and
    * absorbs NULLs, the last is unbounded above. */
  override def planInputPartitions(): Array[InputPartition] = {
    val where = pushed.flatMap(PgFilterSql.compile)
    val cols =
      if (required.isEmpty) "1"
      else required.fieldNames.map(PgNativeSource.quoteIdent).mkString(", ")
    def sql(rangeClause: Option[String]): String = {
      val conds = where ++ rangeClause
      val w = if (conds.isEmpty) "" else conds.mkString(" WHERE (", ") AND (", ")")
      s"SELECT $cols FROM ${o.table}$w"
    }
    o.partition match {
      case Some((col, lower, upper, n)) if n > 1 =>
        val stride = math.max(1L, (upper - lower) / n)
        (0 until n).map { i =>
          val lo = lower + stride * i
          val hi = lower + stride * (i + 1)
          val clause =
            if (i == 0) s"$col < $hi OR $col IS NULL"
            else if (i == n - 1) s"$col >= $lo"
            else s"$col >= $lo AND $col < $hi"
          PgNativePartition(sql(Some(clause))): InputPartition
        }.toArray
      case _ => Array(PgNativePartition(sql(None)))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // captured on the DRIVER at planning time: executors may have no
    // active session, and the reading session's zone is what resolves
    // zone-less oid-1114 walls into instants (see convert's rationale).
    // sessionZone normalizes SHORT_IDS aliases (EST & co.), so the
    // getId shipped to executors always re-parses with plain ZoneId.of.
    val wallZoneId = graft.server.PgWire
      .sessionZone(org.apache.spark.sql.SparkSession.active).getId
    new PgNativeReaderFactory(required, o, wallZoneId)
  }
}

private final case class PgNativePartition(sql: String) extends InputPartition

private final class PgNativeReaderFactory(required: StructType,
    o: PgNativeOptions, wallZoneId: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PgNativePartitionReader(required, o,
      partition.asInstanceOf[PgNativePartition].sql, wallZoneId)
}

private final class PgNativePartitionReader(required: StructType,
    o: PgNativeOptions, sql: String, wallZoneId: String)
    extends PartitionReader[InternalRow] {

  private val wallZone = graft.server.PgWire.zoneOf(wallZoneId)

  // requested per-column formats: binary for fixed-width decode, text
  // otherwise (the server's RowDescription remains authoritative —
  // see the `formats` read below). Data reads ALWAYS go through the
  // extended protocol regardless of format: Execute(max_rows=0) has no
  // row cap, while a simple Query against the reference-shaped server
  // is clamped at DEFAULT_ROW_LIMIT=1024 — a simple-protocol scan of a
  // >1024-row partition would silently truncate.
  private val wantFormats: Array[Int] =
    if (o.resultFormat == "binary")
      required.fields.map(f =>
        if (PgNativeSource.binaryFormatFor(f.dataType)) 1 else 0)
    else new Array[Int](required.length)

  // a throw from execute (write failure, server error on flush) means
  // the reader is never constructed and Spark never calls close() —
  // the already-open socket must be released here, like PgWireClient's
  // own failed-handshake guard
  private val cli = o.connect()
  try cli.executeExtended(sql, wantFormats)
  catch {
    case t: Throwable => try cli.close() catch { case _: Throwable => }; throw t
  }
  // one reused row; its cells decode straight from the DataRow body
  private val row = new SpecificInternalRow(required.fields.map(_.dataType).toSeq)
  private var decoders: Array[PgNativeSource.CellDecoder] = _

  override def next(): Boolean = {
    if (!cli.nextRow()) return false
    if (decoders == null) {
      // resolved once, from the RowDescription that precedes the rows
      // (its format codes are authoritative over the requested ones)
      val formats = cli.fieldFormats
      val oids = cli.fields
      decoders = Array.tabulate(required.length) { i =>
        val format = if (i < formats.length) formats(i) else 0
        PgNativeSource.cellDecoder(if (format == 1) oids(i)._2 else 0, format,
          required(i).dataType, wallZone)
      }
    }
    if (cli.cellCount < required.length)
      throw new java.io.IOException(s"postgres_scan native client: DataRow has " +
        s"${cli.cellCount} cells, the scan reads ${required.length} columns")
    val b = cli.cellBytes
    var i = 0
    while (i < required.length) {
      val len = cli.cellLength(i)
      if (len < 0) row.setNullAt(i)
      else decoders(i).decode(b, cli.cellOffset(i), len, row, i)
      i += 1
    }
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = cli.close()
}
