package graft.server

import java.io.{DataInputStream, DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** PostgreSQL wire-protocol framing + value encoding (reference A41/
  * A43: src/server/src/postgres/handler.rs, types.rs — pgwire message
  * layer re-expressed over plain java.io streams).
  *
  * Only the protocol-3.0 subset the reference speaks: startup/auth,
  * simple + extended query, text result format.
  */
object PgWire {

  /** Per-direction socket buffer of a connection: the server writes its
    * results, and the native client reads them, in chunks of this size. */
  val IoBufferBytes: Int = 64 * 1024

  /** A growable byte array reused for every message one connection
    * frames or parses. The write methods are named after
    * DataOutputStream's (big-endian), so message bodies read the same. */
  final class WireBuffer(initial: Int = 256) {
    private[graft] var array = new Array[Byte](initial)
    private[graft] var size = 0
    def reset(): Unit = size = 0
    private[PgWire] def ensure(extra: Int): Unit =
      if (size + extra > array.length)
        array = java.util.Arrays.copyOf(array,
          math.min(Int.MaxValue - 8L,
            math.max(array.length * 2L, size.toLong + extra)).toInt)
    def writeByte(v: Int): Unit = { ensure(1); array(size) = v.toByte; size += 1 }
    def writeShort(v: Int): Unit = {
      ensure(2)
      array(size) = (v >>> 8).toByte; array(size + 1) = v.toByte
      size += 2
    }
    def writeInt(v: Int): Unit = { ensure(4); setInt(size, v); size += 4 }
    def writeLong(v: Long): Unit = {
      writeInt((v >>> 32).toInt); writeInt(v.toInt)
    }
    def write(b: Array[Byte]): Unit = write(b, 0, b.length)
    def write(b: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len); System.arraycopy(b, off, array, size, len); size += len
    }
    /** Append a UTF8String's bytes as they are. */
    def write(s: org.apache.spark.unsafe.types.UTF8String): Unit = {
      ensure(s.numBytes)
      s.writeToMemory(array, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + size)
      size += s.numBytes
    }
    /** Append an ASCII string, one byte per char. */
    def writeAscii(s: String): Unit = {
      ensure(s.length)
      var i = 0
      while (i < s.length) { array(size + i) = s.charAt(i).toByte; i += 1 }
      size += s.length
    }
    /** Overwrite the int32 at `pos` (a length written before its body). */
    def setInt(pos: Int, v: Int): Unit = {
      array(pos) = (v >>> 24).toByte; array(pos + 1) = (v >>> 16).toByte
      array(pos + 2) = (v >>> 8).toByte; array(pos + 3) = v.toByte
    }
    def getInt(pos: Int): Int =
      (array(pos) << 24) | ((array(pos + 1) & 0xff) << 16) |
        ((array(pos + 2) & 0xff) << 8) | (array(pos + 3) & 0xff)
    def getShort(pos: Int): Short = ((array(pos) << 8) | (array(pos + 1) & 0xff)).toShort
    /** Replace the contents with the next `n` bytes of `in`. */
    def fill(in: DataInputStream, n: Int): Unit = {
      size = 0; ensure(n); in.readFully(array, 0, n); size = n
    }
    /** Drop a buffer one oversized message grew, so a connection does
      * not keep it for its lifetime. */
    def shrink(): Unit = if (array.length > (1 << 20)) array = new Array[Byte](8192)
  }

  // ---- message writing ----

  /** Frames every message of a connection in one reusable buffer and
    * hands it to the stream in a single write. */
  final class Out(out: OutputStream) {
    private val frame = new WireBuffer(8192)
    def msg(tag: Char)(body: WireBuffer => Unit): Unit = {
      frame.reset()
      frame.writeByte(tag)
      frame.writeInt(0)
      body(frame)
      frame.setInt(1, frame.size - 1)
      out.write(frame.array, 0, frame.size)
      frame.shrink()
    }
    def flush(): Unit = out.flush()

    /** One result row as the encoder frames it: a DataRow, or a COPY
      * TO STDOUT CopyData line. */
    def row(enc: ResultEncoder, r: org.apache.spark.sql.catalyst.InternalRow): Unit =
      msg(enc.tag)(enc.write(r, _))

    def authenticationOk(): Unit = msg('R')(_.writeInt(0))
    /** AuthenticationSASL: advertised mechanisms, NUL-separated with a
      * terminating empty name. */
    def authenticationSasl(mechanisms: Seq[String]): Unit = msg('R') { d =>
      d.writeInt(10)
      mechanisms.foreach { m =>
        d.write(m.getBytes(java.nio.charset.StandardCharsets.UTF_8)); d.writeByte(0)
      }
      d.writeByte(0)
    }
    def authenticationSaslContinue(data: Array[Byte]): Unit = msg('R') { d =>
      d.writeInt(11); d.write(data)
    }
    def authenticationSaslFinal(data: Array[Byte]): Unit = msg('R') { d =>
      d.writeInt(12); d.write(data)
    }
    def authenticationMd5(salt: Array[Byte]): Unit = msg('R') { d =>
      d.writeInt(5); d.write(salt)
    }
    def parameterStatus(k: String, v: String): Unit = msg('S') { d =>
      cstr(d, k); cstr(d, v)
    }
    def backendKeyData(pid: Int, secret: Int): Unit = msg('K') { d =>
      d.writeInt(pid); d.writeInt(secret)
    }
    def readyForQuery(status: Char = 'I'): Unit = msg('Z')(_.writeByte(status))
    def rowDescription(cols: Seq[(String, Int)], formats: Seq[Int] = Nil): Unit =
      msg('T') { d =>
        d.writeShort(cols.size)
        cols.zipWithIndex.foreach { case ((name, oid), i) =>
          cstr(d, name)
          d.writeInt(0); d.writeShort(0) // table oid, attnum
          d.writeInt(oid)
          d.writeShort(-1); d.writeInt(-1) // typlen, typmod
          d.writeShort(if (formats.isEmpty) 0 else formats(i % formats.size))
        }
      }
    def portalSuspended(): Unit = msg('s')(_ => ())
    def copyOutResponse(nCols: Int, binary: Boolean = false): Unit = msg('H') { d =>
      d.writeByte(if (binary) 1 else 0)
      d.writeShort(nCols)
      (0 until nCols).foreach(_ => d.writeShort(if (binary) 1 else 0))
    }
    def copyInResponse(nCols: Int, binary: Boolean = false): Unit = msg('G') { d =>
      d.writeByte(if (binary) 1 else 0)
      d.writeShort(nCols)
      (0 until nCols).foreach(_ => d.writeShort(if (binary) 1 else 0))
    }
    def copyData(bytes: Array[Byte]): Unit = msg('d')(_.write(bytes))
    def copyDone(): Unit = msg('c')(_ => ())
    def commandComplete(tag: String): Unit = msg('C')(cstr(_, tag))
    def emptyQueryResponse(): Unit = msg('I')(_ => ())
    def parseComplete(): Unit = msg('1')(_ => ())
    def bindComplete(): Unit = msg('2')(_ => ())
    def noData(): Unit = msg('n')(_ => ())
    def parameterDescription(oids: Seq[Int]): Unit = msg('t') { d =>
      d.writeShort(oids.size); oids.foreach(d.writeInt)
    }
    def errorResponse(code: String, message: String): Unit = msg('E') { d =>
      d.writeByte('S'); cstr(d, "ERROR")
      d.writeByte('C'); cstr(d, code)
      d.writeByte('M'); cstr(d, message)
      d.writeByte(0)
    }
    private def cstr(d: WireBuffer, s: String): Unit = {
      d.write(s.getBytes(UTF_8)); d.writeByte(0)
    }
  }

  // ---- binary COPY framing (PG "PGCOPY\n\377\r\n\0" file format) ----

  /** 19-byte binary-COPY header: signature, flags = 0, extension = 0. */
  val CopyBinaryHeader: Array[Byte] =
    "PGCOPY\n".getBytes(UTF_8) ++ Array[Byte](-1, '\r', '\n', 0) ++
      Array.fill[Byte](8)(0) // flags int32 + header-extension length int32

  /** Binary COPY trailer: int16 -1. */
  val CopyBinaryTrailer: Array[Byte] = Array[Byte](-1, -1)

  /** Parse a complete binary COPY payload into per-row field byte
    * arrays (None = NULL). Tolerates a missing trailer (client closed
    * after the last row). */
  def parseCopyBinary(payload: Array[Byte]): Seq[Seq[Option[Array[Byte]]]] = {
    require(payload.length >= CopyBinaryHeader.length &&
      payload.take(11).sameElements(CopyBinaryHeader.take(11)),
      "COPY binary payload lacks the PGCOPY signature")
    val buf = java.nio.ByteBuffer.wrap(payload)
    buf.position(11)
    buf.getInt // flags
    val extLen = buf.getInt
    buf.position(buf.position() + extLen)
    val rows = scala.collection.mutable.Buffer[Seq[Option[Array[Byte]]]]()
    var done = false
    while (!done && buf.remaining() >= 2) {
      val n = buf.getShort.toInt
      if (n < 0) done = true
      else rows += (0 until n).map { _ =>
        val len = buf.getInt
        if (len < 0) None
        else { val b = new Array[Byte](len); buf.get(b); Some(b) }
      }
    }
    rows.toSeq
  }

  // ---- message reading ----

  final case class Message(tag: Char, body: Array[Byte])

  final case class Startup(code: Int, params: Map[String, String], body: Array[Byte])

  /** PG's own wire limit is 1 GiB; anything larger (or shorter than the
    * 4-byte length itself) is a malformed frame — reject it BEFORE
    * allocating, or a single garbage header could OOM the server. */
  private val MaxMessageLen = 1 << 30
  private val MaxStartupLen = 1 << 20 // PG caps startup packets far smaller

  private def checkLen(len: Int, max: Int, what: => String): Unit =
    if (len < 4 || len > max)
      throw new IllegalArgumentException(
        s"invalid message length $len in $what frame")

  def readStartup(in: DataInputStream): Startup = {
    val len = in.readInt()
    checkLen(len, MaxStartupLen, "startup")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    val code = java.nio.ByteBuffer.wrap(body, 0, 4).getInt
    if (code == 196608) { // protocol 3.0: key/value params
      val params = new String(body, 4, body.length - 4, UTF_8)
        .split("\u0000").filter(_.nonEmpty).grouped(2)
        .collect { case Array(k, v) => k -> v }.toMap
      Startup(code, params, body)
    } else Startup(code, Map.empty, body)
  }

  def readMessage(in: DataInputStream): Message = {
    val tag = in.readByte().toChar
    val len = in.readInt()
    checkLen(len, MaxMessageLen, s"'$tag'")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    Message(tag, body)
  }

  /** Read the next message's body into `into`, which the caller reuses
    * from message to message; returns the message's tag. */
  def readFrame(in: DataInputStream, into: WireBuffer): Char = {
    val tag = in.readByte().toChar
    val len = in.readInt()
    checkLen(len, MaxMessageLen, s"'$tag'")
    into.fill(in, len - 4)
    tag
  }

  def cstrings(body: Array[Byte]): Seq[String] =
    new String(body, UTF_8).split("\u0000").toSeq

  // ---- Spark type -> PG oid + text encoding (types.rs:128-340) ----

  import org.apache.spark.sql.types._

  def pgOid(dt: DataType): Int = dt match {
    case BooleanType                       => 16
    case ByteType                          => 18
    case ShortType                         => 21
    case IntegerType                       => 23
    case LongType                          => 20
    case FloatType                         => 700
    case DoubleType                        => 701
    case StringType                        => 1043
    case BinaryType                        => 17
    case DateType                          => 1082
    case _: TimestampType                  => 1114
    case _: TimestampNTZType               => 1114
    case _: TimeType                       => 1083
    case _: DecimalType                    => 1700
    case _: DayTimeIntervalType            => 1186
    case _: YearMonthIntervalType          => 1186
    case CalendarIntervalType              => 1186
    case ArrayType(et, _) if arrayOid(et) != 0 => arrayOid(et)
    case _                                 => 1043 // rendered as text
  }

  /** Array oid for an element type; 0 when no PG array type maps
    * (nested arrays, structs — those render as text). */
  def arrayOid(et: DataType): Int = et match {
    case BooleanType    => 1000
    case BinaryType     => 1001
    case ByteType       => 1002
    case ShortType      => 1005
    case IntegerType    => 1007
    case LongType       => 1016
    case FloatType      => 1021
    case DoubleType     => 1022
    case StringType     => 1015
    case DateType       => 1182
    case _: TimeType    => 1183
    case _: TimestampType    => 1115
    case _: TimestampNTZType => 1115
    case _: DecimalType => 1231
    case _              => 0
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val timeFmt = java.time.format.DateTimeFormatter
    .ofPattern("HH:mm:ss.SSSSSS")

  // PG epochs: 2000-01-01 is day 10957 / microsecond 946684800000000
  // after the unix epoch.
  private[graft] val PgEpochDay = 10957L
  private[graft] val PgEpochMicros = 946684800000000L

  /** Types with a real PG binary wire form in [[encodeBinary]]; for
    * anything else a requested binary format silently degrades to text
    * (and the RowDescription must say so, or binary-mode clients will
    * mis-parse the bytes). */
  def binaryCapable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType => true
    case _: TimestampType    => true
    case _: TimestampNTZType => true
    case _: TimeType         => true
    case _: DecimalType      => true
    case _: DayTimeIntervalType | _: YearMonthIntervalType => true
    case CalendarIntervalType => true
    // arrays of binary-capable scalars with a PG array oid; nested
    // arrays and struct elements stay text
    case ArrayType(et, _)    => arrayOid(et) != 0 && binaryCapable(et)
    case _                   => false
  }

  /** Binary (format code 1) result encodings for the oids the text
    * path maps (types.rs:128-340's binary half, plus interval.rs and
    * the array wire format). Types without a defined binary form here
    * fall back to their text bytes, matching the catch-all text oid in
    * [[pgOid]]. */
  def encodeBinary(v: Any, dt: DataType,
      zone: java.time.ZoneId = java.time.ZoneId.systemDefault()): Option[Array[Byte]] = {
    def be(n: Int, put: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n); put(b); b.array()
    }
    v match {
      case null                  => None
      case b: Boolean            => Some(Array[Byte](if (b) 1 else 0))
      case b: Byte               => Some(Array[Byte](b))
      case s: Short              => Some(be(2, _.putShort(s)))
      case i: Int                => Some(be(4, _.putInt(i)))
      case l: Long               => Some(be(8, _.putLong(l)))
      case f: Float              => Some(be(4, _.putFloat(f)))
      case d: Double             => Some(be(8, _.putDouble(d)))
      case s: String             => Some(s.getBytes(UTF_8))
      case b: Array[Byte]        => Some(b)
      case d: java.sql.Date      =>
        Some(be(4, _.putInt((d.toLocalDate.toEpochDay - PgEpochDay).toInt)))
      case d: java.time.LocalDate =>
        Some(be(4, _.putInt((d.toEpochDay - PgEpochDay).toInt)))
      case t: java.sql.Timestamp =>
        // oid 1114 (timestamp WITHOUT time zone) carries wall-clock
        // micros on the wire, resolved in `zone` — the server passes the
        // SESSION zone (spark.sql.session.timeZone), the zone Spark's
        // own CAST(ts AS STRING) uses, so wire and engine renderings can
        // never disagree on a host whose JVM default TZ differs from
        // the session's.
        val ldt = timestampWall(t, zone)
        val us = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000
        Some(be(8, _.putLong(us - PgEpochMicros)))
      case t: java.time.Instant  =>
        // TimestampType surfaces as Instant when java8API is enabled —
        // the SAME session-zone wall-clock rule as java.sql.Timestamp
        // above, or the two collect() modes would put different values
        // on the wire for one column
        val ldt = java.time.LocalDateTime.ofInstant(t, zone)
        val us = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000
        Some(be(8, _.putLong(us - PgEpochMicros)))
      case t: java.time.LocalDateTime => // TimestampNTZ
        val us = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000
        Some(be(8, _.putLong(us - PgEpochMicros)))
      case t: java.time.LocalTime => // TIME: micros since midnight
        Some(be(8, _.putLong(t.toNanoOfDay / 1000)))
      case d: java.math.BigDecimal => Some(numericBinary(d))
      case d: BigDecimal           => Some(numericBinary(d.bigDecimal))
      // interval wire layout (types/interval.rs:10-60): micros(8),
      // days(4), months(4)
      case d: java.time.Duration =>
        Some(be(16, b => {
          b.putLong(d.getSeconds * 1000000L + d.getNano / 1000)
          b.putInt(0); b.putInt(0)
        }))
      case p: java.time.Period =>
        Some(be(16, b => {
          b.putLong(0L); b.putInt(p.getDays)
          b.putInt(p.getYears * 12 + p.getMonths)
        }))
      case ci: org.apache.spark.unsafe.types.CalendarInterval =>
        Some(be(16, b => {
          b.putLong(ci.microseconds); b.putInt(ci.days); b.putInt(ci.months)
        }))
      // 1-D array: ndims, hasnull, elemoid, (dim, lbound), elements
      case s: scala.collection.Seq[_] =>
        dt match {
          case ArrayType(et, _) if arrayOid(et) != 0 && binaryCapable(et) =>
            val elems = s.map(e => if (e == null) None else encodeBinary(e, et, zone))
            val body = new java.io.ByteArrayOutputStream()
            val d = new DataOutputStream(body)
            if (s.isEmpty) { // PG sends ndims = 0 with no dim pairs
              d.writeInt(0); d.writeInt(0); d.writeInt(pgOid(et))
            } else {
              d.writeInt(1)
              d.writeInt(if (elems.exists(_.isEmpty)) 1 else 0)
              d.writeInt(pgOid(et))
              d.writeInt(s.size); d.writeInt(1)
              elems.foreach {
                case None    => d.writeInt(-1)
                case Some(b) => d.writeInt(b.length); d.write(b)
              }
            }
            Some(body.toByteArray)
          case _ => encodeValue(s, zone).map(_.getBytes(UTF_8))
        }
      case other                 => encodeValue(other, zone).map(_.getBytes(UTF_8))
    }
  }

  /** Binary (format code 1) PARAMETER decodings — the inverse of
    * [[encodeBinary]] for the bound-parameter oids the reference
    * accepts (src/server/src/postgres/types.rs:24-70), including
    * NUMERIC base-10000 groups and INTERVAL (micros, days, months;
    * types/interval.rs:10-60). Pure day-time intervals come back as
    * java.time.Duration and pure month intervals as java.time.Period
    * (Spark's native DayTime/YearMonth literal types); mixed intervals
    * use CalendarInterval. Unknown oids keep their raw bytes (bytea
    * semantics), matching the text path's pass-through. */
  def decodeBinaryParam(oid: Int, bytes: Array[Byte]): Any = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    oid match {
      case 16           => bytes(0) != 0
      case 18           => bytes(0)
      case 21           => buf.getShort
      case 23           => buf.getInt
      case 20           => buf.getLong
      case 700          => buf.getFloat
      case 701          => buf.getDouble
      case 25 | 1043 | 1042 | 19 => new String(bytes, UTF_8)
      case 1700         => decodeNumericBinary(buf)
      case 1083         =>
        val us = buf.getLong
        // PG accepts time '24:00:00' (86_400_000_000 µs), which
        // LocalTime cannot represent — pass the PG text form through
        // (TIME parameters bind as PG text downstream anyway); any
        // other out-of-range value gets a typed error, not an opaque
        // DateTimeException
        if (us == 86400000000L) "24:00:00"
        else {
          require(us >= 0 && us < 86400000000L,
            s"TIME binary value out of range: $us microseconds")
          java.time.LocalTime.ofNanoOfDay(us * 1000L)
        }
      case 1082         => java.time.LocalDate.ofEpochDay(PgEpochDay + buf.getInt)
      case 1114 =>
        val us = PgEpochMicros + buf.getLong
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case 1184 =>
        val us = PgEpochMicros + buf.getLong
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
      case 1186 =>
        val micros = buf.getLong; val days = buf.getInt; val months = buf.getInt
        if (months == 0 && days == 0)
          java.time.Duration.of(micros, java.time.temporal.ChronoUnit.MICROS)
        else if (micros == 0 && days == 0) java.time.Period.ofMonths(months)
        else new org.apache.spark.unsafe.types.CalendarInterval(months, days, micros)
      // array parameters: ndims, hasnull, elemoid, (dim, lbound)*,
      // length-prefixed elements decoded by the payload's own elemoid
      case o if ArrayOids(o) =>
        val ndims = buf.getInt
        buf.getInt // hasnull (informational)
        val elemOid = buf.getInt
        if (ndims == 0) emptyTypedArray(elemOid)
        else {
          require(ndims == 1,
            s"only 1-dimensional array parameters supported, got ndims=$ndims")
          val n = buf.getInt
          buf.getInt // lower bound
          (0 until n).map { _ =>
            val len = buf.getInt
            if (len < 0) null
            else {
              val b = new Array[Byte](len)
              buf.get(b)
              decodeBinaryParam(elemOid, b)
            }
          }
        }
      case _            => bytes
    }
  }

  /** Typed empty array for a zero-dimension (empty) array parameter:
    * the element class must survive into the bound literal, or an
    * empty int8[] would bind as array<string> and fail analysis
    * against a bigint-array column (non-empty arrays derive their
    * component type from the decoded elements; an empty one has none). */
  private def emptyTypedArray(elemOid: Int): Array[_ <: AnyRef] = elemOid match {
    case 16   => new Array[java.lang.Boolean](0)
    case 21   => new Array[java.lang.Short](0)
    case 23   => new Array[java.lang.Integer](0)
    case 20   => new Array[java.lang.Long](0)
    case 700  => new Array[java.lang.Float](0)
    case 701  => new Array[java.lang.Double](0)
    case 1700 => new Array[java.math.BigDecimal](0)
    case 1082 => new Array[java.time.LocalDate](0)
    case 1114 => new Array[java.time.LocalDateTime](0)
    case 1184 => new Array[java.time.Instant](0)
    case 17   => new Array[Array[Byte]](0) // bytea elements stay raw bytes
    // interval elements decode to Duration (day-time intervals); the
    // empty case must agree or the same query binds array<string> when
    // the bound array happens to be empty
    case 1186 => new Array[java.time.Duration](0)
    case 1083 => new Array[String](0) // TIME binds per-element as PG text
    case _    => new Array[String](0)
  }

  /** Array-type oids accepted as binary parameters / emitted as binary
    * results (1009 = text[], which clients send interchangeably with
    * 1015 varchar[]). */
  private val ArrayOids: Set[Int] = Set(
    1000, 1001, 1002, 1005, 1007, 1009, 1015, 1016, 1021, 1022,
    1115, 1182, 1183, 1185, 1187, 1231)

  /** Inverse of [[numericBinary]]: ndigits/weight/sign/dscale header +
    * base-10000 digit groups → BigDecimal. */
  private[graft] def decodeNumericBinary(buf: java.nio.ByteBuffer): java.math.BigDecimal = {
    val nd = buf.getShort.toInt
    val weight = buf.getShort.toInt
    val sign = buf.getShort & 0xFFFF
    val dscale = buf.getShort.toInt
    require(sign != 0xC000, "NUMERIC NaN has no Spark decimal value")
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < nd) {
      val d = buf.getShort & 0xFFFF
      // digit group i carries weight (weight - i) in base 10000
      acc = acc.add(new java.math.BigDecimal(
        java.math.BigInteger.valueOf(d.toLong), -(weight - i) * 4))
      i += 1
    }
    val scaled = acc.setScale(dscale)
    if (sign == 0x4000) scaled.negate else scaled
  }

  /** PG `numeric` binary: base-10000 digit groups with weight/sign/
    * dscale header. */
  private def numericBinary(bd0: java.math.BigDecimal): Array[Byte] = {
    val bd = if (bd0.scale < 0) bd0.setScale(0) else bd0
    val neg = bd.signum() < 0
    val plain = bd.abs.toPlainString
    val dot = plain.indexOf('.')
    val (ipRaw, fpRaw) = if (dot < 0) (plain, "") else (plain.take(dot), plain.drop(dot + 1))
    val dscale = fpRaw.length
    val ip = "0" * ((4 - ipRaw.length % 4) % 4) + ipRaw
    val fp = fpRaw + "0" * ((4 - fpRaw.length % 4) % 4)
    var digits = (ip + fp).grouped(4).map(_.toInt).toVector
    var weight = ip.length / 4 - 1
    while (digits.nonEmpty && digits.head == 0) { digits = digits.tail; weight -= 1 }
    while (digits.nonEmpty && digits.last == 0) digits = digits.init
    if (digits.isEmpty) weight = 0
    val buf = java.nio.ByteBuffer.allocate(8 + 2 * digits.size)
    buf.putShort(digits.size.toShort)
    buf.putShort(weight.toShort)
    buf.putShort(if (digits.isEmpty) 0 else if (neg) 0x4000.toShort else 0.toShort)
    buf.putShort(dscale.toShort)
    digits.foreach(d => buf.putShort(d.toShort))
    buf.array()
  }

  /** PG float text style from a Java shortest-roundtrip repr: plain
    * notation while the decimal exponent sits in [-4, 15), otherwise
    * normalized mantissa + `e(+|-)NN`; trailing `.0` trimmed. */
  private[graft] def pgFloatText(shortest: String): String = {
    if (shortest == "NaN" || shortest.endsWith("Infinity")) return shortest
    val bd = new java.math.BigDecimal(shortest).stripTrailingZeros
    if (bd.unscaledValue.signum == 0) return "0"
    val e10 = bd.precision - bd.scale - 1
    if (e10 >= 15 || e10 <= -5) {
      val digits = bd.unscaledValue.abs.toString
      val sign = if (bd.signum < 0) "-" else ""
      val mant =
        if (digits.length == 1) digits
        else digits.substring(0, 1) + "." + digits.substring(1)
      f"$sign$mant%se${if (e10 >= 0) "+" else "-"}%s${e10.abs}%02d"
    } else bd.toPlainString
  }

  /** Zone-id parse with the SHORT_IDS alias map: Spark itself validates
    * spark.sql.session.timeZone via `ZoneId.of(id, ZoneId.SHORT_IDS)`,
    * so legal session zones include EST/PST/CST & co. — a plain
    * ZoneId.of would throw on them and kill every wire query after a
    * SET of such a zone. The ONE zone-string parser for the whole wire
    * stack (server encoders, native client, pushed literals). */
  def zoneOf(id: String): java.time.ZoneId =
    java.time.ZoneId.of(id, java.time.ZoneId.SHORT_IDS)

  /** The wall-clock zone for TimestampType (oid 1114) rendering on this
    * session: spark.sql.session.timeZone — the zone the engine's own
    * SQL string rendering (CAST(ts AS STRING)) resolves walls through.
    * Every engine entry point pins the session to UTC, so anchoring the
    * wire encoders here (instead of ZoneId.systemDefault()) keeps wire
    * results, COPY round trips, and engine SQL output in agreement on
    * hosts whose JVM default zone is not UTC. */
  def sessionZone(spark: org.apache.spark.sql.SparkSession): java.time.ZoneId =
    zoneOf(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  /** The session-zone wall of a collect()-shaped java.sql.Timestamp.
    *
    * NOT `LocalDateTime.ofInstant(t.toInstant, zone)`: Spark's default
    * (non-java8API) collect() REBASES proleptic micros into the hybrid
    * Julian/Gregorian calendar when building java.sql.Timestamp
    * (DateTimeUtils.toJavaTimestamp), so for pre-1582-10-15 values the
    * Timestamp's raw instant is days off the engine's value and only
    * the hybrid-calendar getters (toLocalDateTime, anchored to the JVM
    * default zone) recover the wall CAST(ts AS STRING) renders. Recover
    * that default-zone wall first, then re-zone it PROLEPTICALLY into
    * the session zone — for modern values this is exactly the
    * instant→zone rendering; for ancient ones it avoids the 10-day
    * Julian-Gregorian shift. */
  def timestampWall(t: java.sql.Timestamp,
      zone: java.time.ZoneId): java.time.LocalDateTime = {
    // ≥1900: the hybrid/proleptic rebase is the identity (no Julian
    // delta, no LMT zone-rule drift), so the instant itself is exact —
    // prefer it, because wall reconstruction is ambiguous for walls in
    // a DST fall-back overlap of the default zone
    if (t.getTime >= Epoch1900Millis)
      java.time.LocalDateTime.ofInstant(t.toInstant, zone)
    else {
      val defaultWall = t.toLocalDateTime
      val dz = java.time.ZoneId.systemDefault()
      if (zone == dz) defaultWall
      else defaultWall.atZone(dz).withZoneSameInstant(zone).toLocalDateTime
    }
  }

  private val Epoch1900Millis = -2208988800000L // 1900-01-01T00:00:00Z

  def encodeValue(v: Any,
      zone: java.time.ZoneId = java.time.ZoneId.systemDefault()): Option[String] = v match {
    case null                    => None
    case b: Boolean              => Some(if (b) "t" else "f")
    case b: Array[Byte]          => Some("\\x" + b.map("%02x".format(_)).mkString)
    // TimestampType renders the wall time in `zone` — the server passes
    // the SESSION zone (spark.sql.session.timeZone), matching Spark's
    // own CAST(ts AS STRING); Timestamp and Instant (the java8API
    // shape) resolve to the same wall (timestampWall handles the
    // hybrid-calendar rebase of the Timestamp shape) so the two
    // collect() modes and the binary encoder all agree
    case t: java.sql.Timestamp   => Some(timestampWall(t, zone).format(tsFmt))
    case t: java.time.Instant    => Some(java.time.LocalDateTime
      .ofInstant(t, zone).format(tsFmt))
    case t: java.time.LocalDateTime => Some(t.format(tsFmt)) // TimestampNTZ
    case t: java.time.LocalTime  => Some(t.format(timeFmt))
    case d: java.sql.Date        => Some(d.toString)
    // NUMERIC never renders scientifically in PG text format
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: scala.math.BigDecimal => Some(d.bigDecimal.toPlainString)
    // float8/float4: Java switches to scientific notation at 1e7, PG
    // only at 1e15 (and at 1e-5 downward), with e+NN exponents
    case d: Double               => Some(pgFloatText(java.lang.Double.toString(d)))
    case f: Float                => Some(pgFloatText(java.lang.Float.toString(f)))
    // interval values arrive as java.time types; PG default style is
    // "N year[s] N mon[s] N day[s] HH:MM:SS[.ffffff]"
    case p: java.time.Period     =>
      val parts = Seq(
        (p.getYears, "year"), (p.getMonths, "mon"), (p.getDays, "day"))
        .collect { case (n, u) if n != 0 => s"$n $u" + (if (n.abs != 1) "s" else "") }
      Some(if (parts.isEmpty) "00:00:00" else parts.mkString(" "))
    case d: java.time.Duration   =>
      val neg = d.isNegative
      val abs = d.abs
      val days = abs.toDays
      val rem = abs.minusDays(days)
      val hms = f"${rem.toHours}%02d:${rem.toMinutesPart}%02d:${rem.toSecondsPart}%02d"
      val frac = if (abs.getNano == 0) "" else f".${abs.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
      val dayPart = if (days != 0) s"$days day" + (if (days != 1) "s " else " ") else ""
      Some((if (neg) "-" else "") + dayPart + hms + frac)
    // non-byte object arrays (the typed empty-array parameter decode)
    // render like Seq; Array[Byte] matched its bytea case above
    case a: Array[_]             => encodeValue(a.toSeq, zone)
    case s: scala.collection.Seq[_] =>
      // PG array-literal element quoting: elements containing the
      // delimiter, braces, quotes, backslashes or whitespace — plus
      // empty strings and the literal word NULL — are double-quoted
      // with backslash escapes (PostgreSQL arrays.html#ARRAYS-IO)
      def elem(e: Any): String = encodeValue(e, zone) match {
        case None => "NULL"
        case Some(t)
            if t.isEmpty || t.equalsIgnoreCase("null") ||
              t.exists(c => c == ',' || c == '{' || c == '}' ||
                c == '"' || c == '\\' || c.isWhitespace) =>
          "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case Some(t) => t
      }
      Some(s.map(elem).mkString("{", ",", "}"))
    case other                   => Some(other.toString)
  }

  // ---- result encoding straight from Catalyst rows ----

  import org.apache.spark.{SparkConf, SparkEnv, TaskContext}
  import org.apache.spark.io.{CompressionCodec, LZ4CompressionCodec, LZFCompressionCodec,
    SnappyCompressionCodec, ZStdCompressionCodec}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, UnsafeRow}
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** Format code of result column `i` for the requested `formats` (PG
    * applies a shorter list cyclically; none = text). Binary only for a
    * type with a binary wire form: the RowDescription must say text
    * otherwise, or a binary-mode client misparses the bytes. */
  def resultFormat(formats: Seq[Int], i: Int, dt: DataType): Int =
    if (formats.nonEmpty && formats(i % formats.size) == 1 && binaryCapable(dt)) 1
    else 0

  /** `df`'s result as Catalyst rows. It runs as one SQL execution, as
    * Dataset's collect does: query-execution listeners see it, and its
    * jobs belong to the calling thread's job group (so a CancelRequest
    * reaches them).
    *
    * The plan runs one job per partition, in partition order, as the
    * caller reads (see [[PackedRows]]); a plan without partitions, such
    * as a `LIMIT 0`, runs none. Only one partition's rows are on the
    * driver at a time, and each must fit `spark.driver.maxResultSize`.
    * A returned row is valid until the next call of `next()`. */
  def resultRows(df: org.apache.spark.sql.DataFrame): Iterator[InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("resultRows")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      new PackedRows(plan.execute(), plan.output.length)
    }
  }

  /** The codec Spark's own collect compresses task results with
    * (`spark.io.compression.codec`, a short name or a class name). */
  private def resultCodec(conf: SparkConf): CompressionCodec = {
    val name = conf.get("spark.io.compression.codec", "lz4")
    val cls = name.toLowerCase(java.util.Locale.ROOT) match {
      case "lz4"    => classOf[LZ4CompressionCodec]
      case "lzf"    => classOf[LZFCompressionCodec]
      case "snappy" => classOf[SnappyCompressionCodec]
      case "zstd"   => classOf[ZStdCompressionCodec]
      case _        => Class.forName(name)
    }
    cls.getConstructor(classOf[SparkConf]).newInstance(conf).asInstanceOf[CompressionCodec]
  }

  /** The rows of `rdd`'s partitions, one job per partition, run when
    * the reader reaches it. The task packs its partition's `UnsafeRow`s
    * into chunks of up to 1 MiB (see [[PackRows]]); the driver reads
    * them back across the chunks into one reused row. */
  private final class PackedRows(rdd: org.apache.spark.rdd.RDD[InternalRow],
      fields: Int) extends Iterator[InternalRow] {
    private val parts = rdd.partitions.length
    private val codec = resultCodec(SparkEnv.get.conf)
    private var part = 0
    private var in: DataInputStream = _
    private var rowSize = -1 // the next row's size in bytes; -1 = not read yet
    private var bytes = new Array[Byte](256)
    private val row = new UnsafeRow(fields)

    def hasNext: Boolean = {
      while (rowSize < 0) {
        if (in != null) {
          rowSize = in.readInt()
          if (rowSize < 0) in = null
        } else if (part == parts) return false
        else {
          val chunks = rdd.sparkContext.runJob(rdd, PackRows, Seq(part)).head
          part += 1
          val packed = new java.io.SequenceInputStream(java.util.Collections.enumeration(
            java.util.Arrays.asList(chunks.map(new java.io.ByteArrayInputStream(_)): _*)))
          in = new DataInputStream(codec.compressedInputStream(packed))
        }
      }
      true
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of result")
      if (bytes.length < rowSize) bytes = new Array[Byte](math.max(rowSize, bytes.length * 2))
      in.readFully(bytes, 0, rowSize)
      row.pointTo(bytes, rowSize)
      rowSize = -1
      row
    }
  }

  /** The task side of [[PackedRows]]: each row's size, then its bytes,
    * ended by -1, through [[resultCodec]] (what Spark's own collect
    * ships). A named object rather than a lambda: the job's closure
    * cleaner then has no capturing class to parse. */
  private[graft] object PackRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[Array[Byte]]) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Array[Byte]] = {
      val packed = new ChunkedOutput
      val out = new DataOutputStream(resultCodec(SparkEnv.get.conf).compressedOutputStream(packed))
      val buffer = new Array[Byte](4 * 1024)
      while (rows.hasNext) {
        val r = rows.next().asInstanceOf[UnsafeRow]
        out.writeInt(r.getSizeInBytes)
        r.writeToStream(out, buffer)
      }
      out.writeInt(-1)
      out.close()
      packed.chunks
    }
  }

  /** An output stream into chunks, as Spark's own task results are
    * written: unlike a growing array it never copies what it holds,
    * and a partition may pack to more than one array can hold. The chunks
    * double from 32 KiB up to 1 MiB, so a small result allocates
    * little. */
  private final class ChunkedOutput extends OutputStream {
    private val MaxChunkBytes = 1 << 20
    private val full = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    private var chunk = new Array[Byte](32 * 1024)
    private var pos = 0

    private def room(): Unit = if (pos == chunk.length) {
      full += chunk
      chunk = new Array[Byte](math.min(MaxChunkBytes, 2 * chunk.length))
      pos = 0
    }

    def write(b: Int): Unit = {
      room()
      chunk(pos) = b.toByte
      pos += 1
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      var done = 0
      while (done < len) {
        room()
        val n = math.min(len - done, chunk.length - pos)
        System.arraycopy(b, off + done, chunk, pos, n)
        pos += n
        done += n
      }
    }

    /** The bytes written, the last chunk cut to its length. */
    def chunks: Array[Array[Byte]] = (full :+ java.util.Arrays.copyOf(chunk, pos)).toArray
  }

  /** How a [[ResultEncoder]] frames a row: a DataRow, or the CopyData
    * message of one COPY TO STDOUT row in binary, text or CSV format. */
  sealed abstract class Framing(val tag: Char)
  object Framing {
    case object DataRow extends Framing('D')
    case object CopyBinary extends Framing('d')
    case object CopyText extends Framing('d')
    case object CopyCsv extends Framing('d')
  }

  /** Writes the wire bytes of one non-null cell, without its length
    * prefix, from a row or an array. */
  private[server] abstract class CellWriter {
    def write(g: SpecializedGetters, i: Int, b: WireBuffer): Unit
  }

  /** One statement's result encoder. It holds one cell writer per
    * column, resolved once from the column's type, its format code, the
    * session zone and the geometry flag, and writes each Catalyst row
    * straight into the connection's frame buffer. The bytes are those
    * [[encodeBinary]] / [[encodeValue]] give for the same row collected
    * as an external Row: a type without a direct writer goes through
    * the same converter the Row deserializer uses, then through them. */
  final class ResultEncoder private (cells: Array[CellWriter], framing: Framing) {
    private val cell = new WireBuffer()
    def tag: Char = framing.tag

    def write(row: InternalRow, b: WireBuffer): Unit = framing match {
      case Framing.CopyText => line(row, b, csv = false)
      case Framing.CopyCsv  => line(row, b, csv = true)
      case _                => fields(row, b)
    }

    /** int16 field count, then per field an int32 length (-1 = NULL) and
      * its bytes: the body of a DataRow and of a binary COPY row. */
    private def fields(row: InternalRow, b: WireBuffer): Unit = {
      b.writeShort(cells.length)
      var i = 0
      while (i < cells.length) { lengthPrefixed(cells(i), row, i, b); i += 1 }
    }

    /** One COPY text line (tab-separated, \N = NULL, backslash escapes)
      * or CSV line (empty = NULL, quoted when needed). */
    private def line(row: InternalRow, b: WireBuffer, csv: Boolean): Unit = {
      var i = 0
      while (i < cells.length) {
        if (i > 0) b.writeByte(if (csv) ',' else '\t')
        if (row.isNullAt(i)) { if (!csv) b.writeAscii("\\N") }
        else {
          cell.reset()
          cells(i).write(row, i, cell)
          if (csv) csvCell(cell, b) else textCell(cell, b)
        }
        i += 1
      }
      b.writeByte('\n')
      cell.shrink()
    }

    /** The header line of a CSV COPY: the column names, each quoted as
      * a data cell would be. */
    def csvHeader(names: Seq[String], b: WireBuffer): Unit = {
      names.zipWithIndex.foreach { case (n, i) =>
        if (i > 0) b.writeByte(',')
        cell.reset()
        cell.write(n.getBytes(UTF_8))
        csvCell(cell, b)
      }
      b.writeByte('\n')
    }
  }

  object ResultEncoder {
    /** `formats` are the requested format codes (see [[resultFormat]]);
      * `geom` flags geometry columns, whose text form is PostGIS hex
      * EWKB. */
    def apply(spark: org.apache.spark.sql.SparkSession, schema: StructType,
        formats: Seq[Int], geom: Seq[Boolean] = Nil,
        framing: Framing = Framing.DataRow): ResultEncoder = {
      val zone = sessionZone(spark)
      // converters read the java8API setting of the active session: make
      // it this one, as the Row deserializer of its Datasets saw it
      val SparkSession = org.apache.spark.sql.SparkSession
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(spark)
      try new ResultEncoder(schema.fields.indices.map { i =>
        val dt = schema(i).dataType
        val binary = resultFormat(formats, i, dt) == 1
        if (!binary && geom.lift(i).contains(true)) HexEwkb
        else cellWriter(dt, binary, zone)
      }.toArray, framing)
      finally prev match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None    => SparkSession.clearActiveSession()
      }
    }
  }

  /** int32 length (-1 = NULL), then the cell's bytes. */
  private def lengthPrefixed(w: CellWriter, g: SpecializedGetters, i: Int,
      b: WireBuffer): Unit =
    if (g.isNullAt(i)) b.writeInt(-1)
    else {
      val at = b.size
      b.writeInt(0)
      w.write(g, i, b)
      b.setInt(at, b.size - at - 4)
    }

  /** COPY text escaping of one cell: backslash, newline, carriage
    * return and tab. They are ASCII, so no multibyte character holds
    * their bytes. */
  private def textCell(c: WireBuffer, b: WireBuffer): Unit = {
    var i = 0
    while (i < c.size) {
      val x = c.array(i)
      if (x == '\\') { b.writeByte('\\'); b.writeByte('\\') }
      else if (x == '\n') { b.writeByte('\\'); b.writeByte('n') }
      else if (x == '\r') { b.writeByte('\\'); b.writeByte('r') }
      else if (x == '\t') { b.writeByte('\\'); b.writeByte('t') }
      else b.writeByte(x)
      i += 1
    }
  }

  /** CSV cell: quoted, with doubled quotes, when it holds a comma, quote,
    * newline or carriage return. */
  private def csvCell(c: WireBuffer, b: WireBuffer): Unit = {
    var quote = false
    var i = 0
    while (i < c.size && !quote) {
      val x = c.array(i)
      quote = x == ',' || x == '"' || x == '\n' || x == '\r'
      i += 1
    }
    if (!quote) b.write(c.array, 0, c.size)
    else {
      b.writeByte('"')
      i = 0
      while (i < c.size) {
        if (c.array(i) == '"') b.writeByte('"')
        b.writeByte(c.array(i))
        i += 1
      }
      b.writeByte('"')
    }
  }

  // the first instant Spark's Timestamp/Date conversions do not rebase
  // between the hybrid Julian and the proleptic Gregorian calendar in
  // any zone; earlier values take the converter
  private val Epoch1900Micros = Epoch1900Millis * 1000L
  private val Epoch1900Day = -25567    // 1900-01-01
  private val Year9999LastDay = 2932896 // 9999-12-31

  private val UpperHex = "0123456789ABCDEF".getBytes(UTF_8)

  /** PostGIS text output for geometry: uppercase hex EWKB, no \x. */
  private val HexEwkb: CellWriter = (g, i, b) => {
    val bytes = g.getBinary(i)
    var k = 0
    while (k < bytes.length) {
      b.writeByte(UpperHex((bytes(k) >> 4) & 0xf)); b.writeByte(UpperHex(bytes(k) & 0xf))
      k += 1
    }
  }

  private def cellWriter(dt: DataType, binary: Boolean,
      zone: java.time.ZoneId): CellWriter = {
    // built now, while the statement's session is active
    val converted = new Converted(dt, binary, zone)
    val wall = new WallClock(zone)
    if (binary) dt match {
      case BooleanType => (g, i, b) => b.writeByte(if (g.getBoolean(i)) 1 else 0)
      case ByteType    => (g, i, b) => b.writeByte(g.getByte(i))
      case ShortType   => (g, i, b) => b.writeShort(g.getShort(i))
      case IntegerType => (g, i, b) => b.writeInt(g.getInt(i))
      case LongType    => (g, i, b) => b.writeLong(g.getLong(i))
      case FloatType   => (g, i, b) => b.writeInt(java.lang.Float.floatToRawIntBits(g.getFloat(i)))
      case DoubleType  => (g, i, b) => b.writeLong(java.lang.Double.doubleToRawLongBits(g.getDouble(i)))
      case StringType  => (g, i, b) => writeUtf8(g.getUTF8String(i), b)
      case BinaryType  => (g, i, b) => b.write(g.getBinary(i))
      case DateType => (g, i, b) => {
        val d = g.getInt(i)
        if (d >= Epoch1900Day && d <= Year9999LastDay) b.writeInt((d - PgEpochDay).toInt)
        else converted.write(g, i, b)
      }
      case _: TimestampType => (g, i, b) => {
        val us = g.getLong(i)
        if (us >= Epoch1900Micros) b.writeLong(wall(us) - PgEpochMicros)
        else converted.write(g, i, b)
      }
      case _: TimestampNTZType => (g, i, b) => b.writeLong(g.getLong(i) - PgEpochMicros)
      case d: DecimalType => (g, i, b) =>
        b.write(numericBinary(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
      case ArrayType(et, _) => new ArrayWriter(et, cellWriter(et, binary = true, zone))
      case _ => converted
    } else dt match {
      case StringType => (g, i, b) => writeUtf8(g.getUTF8String(i), b)
      case _ => converted
    }
  }

  /** The cell through the external value the Row deserializer would
    * build, then [[encodeBinary]] / [[encodeValue]]. */
  private final class Converted(dt: DataType, binary: Boolean,
      zone: java.time.ZoneId) extends CellWriter {
    private val toScala =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(dt)
    def write(g: SpecializedGetters, i: Int, b: WireBuffer): Unit = {
      val v = toScala(g.get(i, dt))
      b.write((if (binary) encodeBinary(v, dt, zone)
        else encodeValue(v, zone).map(_.getBytes(UTF_8))).get)
    }
  }

  /** 1-D array binary form, each element by the element type's writer
    * (same layout as [[encodeBinary]]'s Seq case). */
  private final class ArrayWriter(et: DataType, elem: CellWriter) extends CellWriter {
    private val elemOid = pgOid(et)
    def write(g: SpecializedGetters, i: Int, b: WireBuffer): Unit = {
      val a = g.getArray(i)
      val n = a.numElements
      if (n == 0) { b.writeInt(0); b.writeInt(0); b.writeInt(elemOid) }
      else {
        var hasNull = 0
        var k = 0
        while (k < n) { if (a.isNullAt(k)) hasNull = 1; k += 1 }
        b.writeInt(1); b.writeInt(hasNull); b.writeInt(elemOid)
        b.writeInt(n); b.writeInt(1)
        k = 0
        while (k < n) { lengthPrefixed(elem, a, k, b); k += 1 }
      }
    }
  }

  /** Session-zone wall-clock micros of an instant (micros since the
    * epoch): what LocalDateTime.ofInstant gives, without building one. */
  private final class WallClock(zone: java.time.ZoneId) {
    private val rules = zone.getRules
    private val fixed = rules.isFixedOffset
    private val fixedMicros =
      if (fixed) rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds * 1000000L
      else 0L
    def apply(us: Long): Long =
      if (fixed) us + fixedMicros
      else us + rules.getOffset(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L))).getTotalSeconds * 1000000L
  }

  /** A string's bytes as `toString.getBytes(UTF_8)` gives them: as they
    * are when well-formed, else with the decoder's replacements. */
  private def writeUtf8(s: UTF8String, b: WireBuffer): Unit =
    if (wellFormedUtf8(s.getBaseObject, s.getBaseOffset, s.numBytes)) b.write(s)
    else b.write(s.toString.getBytes(UTF_8))

  /** True when the bytes are well-formed UTF-8 as Java's decoder reads
    * it (no overlong form, surrogate or code point past U+10FFFF), that
    * is exactly when decoding and re-encoding returns the same bytes. */
  private[graft] def wellFormedUtf8(base: AnyRef, offset: Long, len: Int): Boolean = {
    var i = 0
    // ASCII runs eight bytes at a time where unaligned reads are allowed
    if (Platform.unaligned())
      while (i + 8 <= len &&
          (Platform.getLong(base, offset + i) & 0x8080808080808080L) == 0) i += 8
    while (i < len) {
      val b0 = Platform.getByte(base, offset + i) & 0xff
      if (b0 < 0x80) i += 1
      else {
        val more =
          if (b0 >= 0xc2 && b0 <= 0xdf) 1
          else if (b0 >= 0xe0 && b0 <= 0xef) 2
          else if (b0 >= 0xf0 && b0 <= 0xf4) 3
          else return false
        if (len - i <= more) return false
        val b1 = Platform.getByte(base, offset + i + 1) & 0xff
        val lo = if (b0 == 0xe0) 0xa0 else if (b0 == 0xf0) 0x90 else 0x80
        val hi = if (b0 == 0xed) 0x9f else if (b0 == 0xf4) 0x8f else 0xbf
        if (b1 < lo || b1 > hi) return false
        var k = 2
        while (k <= more) {
          if ((Platform.getByte(base, offset + i + k) & 0xc0) != 0x80) return false
          k += 1
        }
        i += more + 1
      }
    }
    true
  }
}
