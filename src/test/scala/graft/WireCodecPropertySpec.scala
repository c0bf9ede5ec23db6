package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.server.PgWire

/** Property-based round-trips for the PG wire binary codecs: for every
  * type with both an encode (result) and a decode (bound-parameter)
  * path, decoding what we encode must recover the value exactly on
  * RANDOM inputs — the fixed-vector tests in PreparedSpec pin the
  * known edge shapes; these pin the whole domain. The differential
  * properties at the end pin the streaming codecs (the server's
  * ResultEncoder over Catalyst rows, the native reader's cell
  * decoders) to the value-at-a-time ones.
  */
class WireCodecPropertySpec extends GraftSuite {

  private def check(prop: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  test("NUMERIC binary: random BigDecimals round-trip exactly") {
    val gen = for {
      unscaled <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)
      big <- Gen.chooseNum(0L, Long.MaxValue) // extend past 64 bits
      scale <- Gen.chooseNum(-8, 30)          // incl. negative scales
    } yield new java.math.BigDecimal(
      java.math.BigInteger.valueOf(unscaled)
        .multiply(java.math.BigInteger.valueOf(big | 1L)), scale)
    check(Prop.forAll(gen) { v: java.math.BigDecimal =>
      val bytes = PgWire.encodeBinary(v,
        org.apache.spark.sql.types.DecimalType(38, 18)).get
      val back = PgWire.decodeBinaryParam(1700, bytes)
        .asInstanceOf[java.math.BigDecimal]
      back.compareTo(v) == 0
    })
  }

  test("TIMESTAMPTZ binary: random instants round-trip to the microsecond") {
    // PG binary timestamps are micros since 2000-01-01; stay within
    // a ±2000-year window so the micros fit comfortably in a long.
    // The encode side emits WALL micros in the given zone and the 1184
    // decode reads UTC-instant micros — they agree only when the wall
    // zone IS UTC, so pin it (the non-UTC cross-shape agreement has its
    // own Tokyo-pinned test below).
    val gen = for {
      sec <- Gen.chooseNum(-62135596800L, 64060588800L)
      micro <- Gen.chooseNum(0L, 999999L)
    } yield java.time.Instant.ofEpochSecond(sec, micro * 1000L)
    val utc = java.time.ZoneOffset.UTC
    check(Prop.forAll(gen) { t: java.time.Instant =>
      val bytes = PgWire.encodeBinary(t,
        org.apache.spark.sql.types.TimestampType, utc).get
      PgWire.decodeBinaryParam(1184, bytes) == t
    })
  }

  test("DATE binary: random local dates round-trip exactly") {
    val gen = Gen.chooseNum(-719162L, 2932896L) // year 1..9999 epoch days
      .map(java.time.LocalDate.ofEpochDay)
    check(Prop.forAll(gen) { d: java.time.LocalDate =>
      val bytes = PgWire.encodeBinary(d,
        org.apache.spark.sql.types.DateType).get
      PgWire.decodeBinaryParam(1082, bytes) == d
    })
  }

  test("TIME binary: random times round-trip to the microsecond") {
    val gen = Gen.chooseNum(0L, 86399999999L) // micros within a day
      .map(us => java.time.LocalTime.ofNanoOfDay(us * 1000L))
    check(Prop.forAll(gen) { t: java.time.LocalTime =>
      val bytes = PgWire.encodeBinary(t,
        org.apache.spark.sql.types.TimeType(6)).get
      PgWire.decodeBinaryParam(1083, bytes) == t
    })
  }

  test("TIMESTAMP (NTZ) binary: random local datetimes round-trip") {
    val gen = for {
      sec <- Gen.chooseNum(-62135596800L, 64060588800L)
      micro <- Gen.chooseNum(0L, 999999L)
    } yield java.time.LocalDateTime.ofEpochSecond(sec,
      micro.toInt * 1000, java.time.ZoneOffset.UTC)
    check(Prop.forAll(gen) { t: java.time.LocalDateTime =>
      val bytes = PgWire.encodeBinary(t,
        org.apache.spark.sql.types.TimestampNTZType).get
      PgWire.decodeBinaryParam(1114, bytes) == t
    })
  }

  test("oid 1114: Timestamp and Instant agree, text and binary agree, under a non-UTC zone") {
    // TimestampType surfaces as java.sql.Timestamp by default and as
    // java.time.Instant under java8API — one column, two JVM shapes.
    // Both ENCODE rules must match each other AND their own text path
    // (default-zone wall time), or the same query would wire different
    // values depending on a session conf / result format.
    val prevTz = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
    try {
      val tsType = org.apache.spark.sql.types.TimestampType
      val gen = Gen.chooseNum(-2000000000L, 4000000000L) // ±~63y of epoch secs
        .map(s => java.time.Instant.ofEpochSecond(s, 123456000L))
      check(Prop.forAll(gen) { inst: java.time.Instant =>
        val asTs = java.sql.Timestamp.from(inst)
        val binTs = PgWire.encodeBinary(asTs, tsType).get
        val binInst = PgWire.encodeBinary(inst, tsType).get
        val txtTs = PgWire.encodeValue(asTs).get
        val txtInst = PgWire.encodeValue(inst).get
        // binary forms identical across JVM shapes; text forms too
        java.util.Arrays.equals(binTs, binInst) && txtTs == txtInst &&
          // and binary decodes to the wall time the text path printed
          PgWire.decodeBinaryParam(1114, binTs)
            .asInstanceOf[java.time.LocalDateTime] ==
            java.time.LocalDateTime.parse(txtTs.replace(' ', 'T'))
      }, n = 200)
    } finally java.util.TimeZone.setDefault(prevTz)
  }

  test("zoneOf accepts Spark-legal SHORT_IDS zone aliases") {
    // Spark validates spark.sql.session.timeZone with
    // ZoneId.of(id, ZoneId.SHORT_IDS), so EST/PST/CST are LEGAL session
    // zones; a plain ZoneId.of throws on them — which would kill every
    // wire query after SET spark.sql.session.timeZone=EST (round-12
    // review finding)
    for (id <- Seq("EST", "PST", "CST", "HST", "UTC", "America/Chicago",
      "+05:30"))
      PgWire.zoneOf(id) // must not throw
    assert(PgWire.zoneOf("EST").getRules
      .getOffset(java.time.Instant.EPOCH).getTotalSeconds == -5 * 3600)
  }

  test("pre-Gregorian timestamps render the hybrid-calendar wall, any zone") {
    // Spark's non-java8API collect() rebases proleptic micros into the
    // hybrid Julian/Gregorian calendar when building java.sql.Timestamp
    // — deriving the wall via t.toInstant would shift pre-1582 values
    // by the 10-day Julian-Gregorian delta (round-12 review finding).
    // timestampWall must recover the hybrid wall in the JVM default
    // zone and re-zone it proleptically.
    val prevTz = java.util.TimeZone.getDefault
    try {
      for (defTz <- Seq("UTC", "Asia/Tokyo")) {
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(defTz))
        // hybrid wall in the CURRENT default zone, like Spark's encoder
        val t = java.sql.Timestamp.valueOf("1500-01-01 00:00:00")
        val wallSame = PgWire.timestampWall(t, java.time.ZoneId.of(defTz))
        assert(wallSame == java.time.LocalDateTime.of(1500, 1, 1, 0, 0),
          s"default=$defTz same-zone wall: $wallSame")
        // the instant-derived wall would be 1500-01-10 — day must stay 1
        assert(PgWire.encodeValue(t,
          java.time.ZoneId.of(defTz)).get.startsWith("1500-01-01"),
          s"default=$defTz text render")
      }
    } finally java.util.TimeZone.setDefault(prevTz)
  }

  test("INTERVAL binary: Duration and Period ENCODE to the 16-byte layout and round-trip") {
    val durGen = for {
      sec <- Gen.chooseNum(-3153600000L, 3153600000L)
      micro <- Gen.chooseNum(0L, 999999L)
    } yield java.time.Duration.ofSeconds(sec, micro * 1000L)
    check(Prop.forAll(durGen) { d: java.time.Duration =>
      val bytes = PgWire.encodeBinary(d,
        org.apache.spark.sql.types.DayTimeIntervalType()).get
      bytes.length == 16 && PgWire.decodeBinaryParam(1186, bytes) == d
    })
    val perGen = for {
      y <- Gen.chooseNum(-999, 999)
      m <- Gen.chooseNum(-11, 11)
    } yield java.time.Period.of(y, m, 0)
    check(Prop.forAll(perGen) { p: java.time.Period =>
      (p.getYears == 0 && p.getMonths == 0) || {
        val bytes = PgWire.encodeBinary(p,
          org.apache.spark.sql.types.YearMonthIntervalType()).get
        // decode normalizes to total months (value-equal, not shape-equal)
        PgWire.decodeBinaryParam(1186, bytes) ==
          java.time.Period.ofMonths(p.getYears * 12 + p.getMonths)
      }
    })
  }

  test("ARRAY binary: random int8/float8/varchar arrays with nulls round-trip") {
    import org.apache.spark.sql.types._
    def arrProp[T](elemGen: Gen[T], dt: DataType, oid: Int): Prop = {
      val gen = Gen.listOf(Gen.oneOf(elemGen.map(Some(_)), Gen.const(None)))
      Prop.forAll(gen) { xs: List[Option[T]] =>
        val v: Seq[Any] = xs.map(_.getOrElse(null).asInstanceOf[Any])
        val dtArr = ArrayType(dt)
        assert(PgWire.binaryCapable(dtArr) && PgWire.pgOid(dtArr) == oid)
        val bytes = PgWire.encodeBinary(v, dtArr).get
        // empty arrays decode to a TYPED empty Array (the element class
        // must survive into the bound literal); non-empty decode to Seq
        PgWire.decodeBinaryParam(oid, bytes) match {
          case a: Array[_] => a.isEmpty && v.isEmpty
          case s           => s == v
        }
      }
    }
    check(arrProp(Gen.chooseNum(Long.MinValue, Long.MaxValue), LongType, 1016))
    check(arrProp(Gen.chooseNum(-1e18, 1e18), DoubleType, 1022))
    check(arrProp(Gen.asciiPrintableStr, StringType, 1015))
    check(arrProp(Gen.chooseNum(Int.MinValue, Int.MaxValue), IntegerType, 1007))
    // empty arrays use the ndims = 0 shape and keep the element class
    val emptyBack = PgWire.decodeBinaryParam(1007,
      PgWire.encodeBinary(Seq.empty[Any], ArrayType(IntegerType)).get)
    assert(emptyBack.isInstanceOf[Array[java.lang.Integer]] &&
      emptyBack.asInstanceOf[Array[java.lang.Integer]].isEmpty)
  }

  test("every binary-capable oid in pgOid round-trips a representative value") {
    import org.apache.spark.sql.types._
    // (type, value, expected decoded form) — decode returns the
    // java.time flavor, so expectations are stated in that flavor
    val reps: Seq[(DataType, Any, Any, Int)] = Seq(
      (BooleanType, true, true, 16),
      (ByteType, 7.toByte, 7.toByte, 18),
      (ShortType, 321.toShort, 321.toShort, 21),
      (IntegerType, -12345, -12345, 23),
      (LongType, 987654321012L, 987654321012L, 20),
      (FloatType, 1.5f, 1.5f, 700),
      (DoubleType, math.Pi, math.Pi, 701),
      (StringType, "héllo", "héllo", 1043),
      (DateType, java.time.LocalDate.of(2026, 8, 14),
        java.time.LocalDate.of(2026, 8, 14), 1082),
      (TimestampNTZType,
        java.time.LocalDateTime.of(2026, 8, 14, 12, 30, 15, 123456000),
        java.time.LocalDateTime.of(2026, 8, 14, 12, 30, 15, 123456000), 1114),
      (TimeType(6), java.time.LocalTime.of(23, 59, 59, 999999000),
        java.time.LocalTime.of(23, 59, 59, 999999000), 1083),
      (DecimalType(20, 4), new java.math.BigDecimal("-1234567.8901"),
        new java.math.BigDecimal("-1234567.8901"), 1700),
      (DayTimeIntervalType(), java.time.Duration.ofSeconds(3661, 5000),
        java.time.Duration.ofSeconds(3661, 5000), 1186),
      (YearMonthIntervalType(), java.time.Period.of(2, 3, 0),
        java.time.Period.ofMonths(27), 1186),
      (ArrayType(LongType), Seq(1L, null, 3L), Seq(1L, null, 3L), 1016))
    for ((dt, v, want, oid) <- reps) {
      assert(PgWire.binaryCapable(dt), s"$dt must be binary-capable")
      assert(PgWire.pgOid(dt) == oid, s"$dt -> oid ${PgWire.pgOid(dt)}, want $oid")
      val bytes = PgWire.encodeBinary(v, dt).get
      val back = PgWire.decodeBinaryParam(oid, bytes)
      assert(back == want ||
        (back.isInstanceOf[java.math.BigDecimal] &&
          back.asInstanceOf[java.math.BigDecimal]
            .compareTo(want.asInstanceOf[java.math.BigDecimal]) == 0),
        s"$dt: $v -> $back, want $want")
    }
    // bytea stays raw in both directions
    val raw = Array[Byte](1, 2, 3)
    assert(PgWire.encodeBinary(raw, BinaryType).get.toSeq == raw.toSeq)
    assert(PgWire.decodeBinaryParam(17, raw).asInstanceOf[Array[Byte]].toSeq == raw.toSeq)
  }

  test("INTERVAL binary: every (micros, days, months) decodes to the value-equal shape") {
    val gen = for {
      micros <- Gen.chooseNum(-3153600000000000L, 3153600000000000L)
      days <- Gen.chooseNum(-100000, 100000)
      months <- Gen.chooseNum(-12000, 12000)
    } yield (micros, days, months)
    check(Prop.forAll(gen) { case (micros: Long, days: Int, months: Int) =>
      val b = java.nio.ByteBuffer.allocate(16)
      b.putLong(micros).putInt(days).putInt(months)
      PgWire.decodeBinaryParam(1186, b.array()) match {
        case d: java.time.Duration =>
          months == 0 && days == 0 &&
            d == java.time.Duration.of(micros, java.time.temporal.ChronoUnit.MICROS)
        case p: java.time.Period =>
          micros == 0 && days == 0 && p == java.time.Period.ofMonths(months)
        case c: org.apache.spark.unsafe.types.CalendarInterval =>
          c.months == months && c.days == days && c.microseconds == micros
        case _ => false
      }
    })
  }

  // ---- differential: streaming codecs vs value-at-a-time codecs ----

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._
  import PgWire.{Framing, ResultEncoder}

  /** Seeded values of every shape the wire encoders special-case, in
    * the external form createDataFrame accepts. */
  private final class Values(seed: Long) {
    private val r = new scala.util.Random(seed)
    private def pick[T](xs: T*): T = xs(r.nextInt(xs.size))
    def orNull(v: => Any): Any = if (r.nextInt(8) == 0) null else v
    def bool: Any = r.nextBoolean()
    def byte: Any = pick(Byte.MinValue, Byte.MaxValue, 0.toByte, r.nextInt().toByte)
    def short: Any = pick(Short.MinValue, Short.MaxValue, 0.toShort, r.nextInt().toShort)
    def int: Any = pick(Int.MinValue, Int.MaxValue, 0, -1, r.nextInt(), r.nextInt(1000))
    def long: Any = pick(Long.MinValue, Long.MaxValue, 0L, r.nextLong(), r.nextInt(100000).toLong)
    def double: Any = pick(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue, 1e15, 1e-5,
      r.nextDouble() * 1e6, r.nextGaussian() * math.pow(10, r.nextInt(40) - 20))
    def float: Any = pick(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, r.nextFloat() * 1e7f, 1e-5f)
    def string: Any = pick("", "plain", "h\u00e9llo", "\u65e5\u672c\u8a9e", "\ud83d\ude00 emoji",
      "tab\tnew\nline\rcr", "cr\ronly", "back\\slash", "q\"uote,comma", "NULL", "{braces}",
      new String(Array.fill(r.nextInt(20))(
        pick('a', ' ', '\u00fc', '\u4e2d', ',', '"', '\r', '\n', '\t', '\\'))))
    def bytes: Any = Array.fill(r.nextInt(12))(r.nextInt(256).toByte)
    private def epochDay(lo: Long, hi: Long): Long = lo + (r.nextDouble() * (hi - lo)).toLong
    def date: Any = java.time.LocalDate.ofEpochDay(pick(
      epochDay(-719162, 2932896),     // years 1..9999
      epochDay(-719162, -141427),     // before the Gregorian switch
      epochDay(-25568, -25566),       // around 1900-01-01
      epochDay(0, 20000)))
    private val dstEdges = Seq("2021-03-14T07:00:00Z", "2021-11-07T06:00:00Z",
      "1950-04-30T07:00:00Z").map(java.time.Instant.parse)
    def instant: Any = {
      val us = pick(
        r.nextLong() % 253402300799000000L,                        // years ~1..9999
        -12219292800000000L - (r.nextDouble() * 1e16).toLong,      // pre-1582
        -2208988800000000L + r.nextInt(3) - 1,                     // 1900 boundary
        dstEdges(r.nextInt(dstEdges.size)).toEpochMilli * 1000L +
          (r.nextInt(14400) - 7200) * 1000000L + r.nextInt(1000000))
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
    }
    def localDateTime: Any = pick(
      java.time.LocalDateTime.of(2021, 3, 14, 2, 30, 0, 123000), // a DST-gap wall
      java.time.LocalDateTime.of(1582, 10, 10, 12, 0), // no such day in the hybrid calendar
      java.time.LocalDateTime.ofEpochSecond(                     // years 1..9999
        Math.floorMod(r.nextLong(), 315537897600L) - 62135596800L,
        r.nextInt(1000000) * 1000, java.time.ZoneOffset.UTC))
    def decimal(p: Int, scale: Int): Any = {
      val digits = 1 + r.nextInt(p)
      val unscaled = new java.math.BigInteger(
        (if (r.nextBoolean()) "-" else "") + Seq.fill(digits)(r.nextInt(10)).mkString)
      new java.math.BigDecimal(unscaled, scale)
    }
    def duration: Any = java.time.Duration.of(r.nextLong() % 86400000000000L,
      java.time.temporal.ChronoUnit.MICROS)
    def period: Any = java.time.Period.ofMonths(r.nextInt(2000) - 1000)
    def array(elem: => Any): Any =
      if (r.nextInt(5) == 0) Seq.empty else Seq.fill(1 + r.nextInt(4))(orNull(elem))
  }

  private val columns: Seq[(DataType, Values => Any)] = Seq(
    BooleanType -> (_.bool), ByteType -> (_.byte), ShortType -> (_.short),
    IntegerType -> (_.int), LongType -> (_.long), FloatType -> (_.float),
    DoubleType -> (_.double), StringType -> (_.string), BinaryType -> (_.bytes),
    DateType -> (_.date), TimestampType -> (_.instant),
    TimestampNTZType -> (_.localDateTime),
    DecimalType(10, 2) -> (_.decimal(10, 2)), DecimalType(38, 9) -> (_.decimal(38, 9)),
    DayTimeIntervalType() -> (_.duration), YearMonthIntervalType() -> (_.period),
    ArrayType(LongType) -> (v => v.array(v.long)),
    ArrayType(DoubleType) -> (v => v.array(v.double)),
    ArrayType(StringType) -> (v => v.array(v.string)),
    ArrayType(DateType) -> (v => v.array(v.date)),
    ArrayType(TimestampType) -> (v => v.array(v.instant)),
    ArrayType(DecimalType(20, 4)) -> (v => v.array(v.decimal(20, 4))),
    ArrayType(BinaryType) -> (v => v.array(v.bytes)),
    // no binary form: text in either format
    StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))) ->
      (v => Row(v.int, v.string)),
    MapType(StringType, LongType) -> (v => Map("k" -> v.long)),
    // last: the geometry column
    BinaryType -> (_.bytes))
  private val geom = columns.indices.map(_ == columns.size - 1)

  /** DataRow body the server built before rows streamed as Catalyst
    * rows: each cell of the collected Row through encodeBinary or
    * encodeValue (geometry text as upper-case hex EWKB). */
  private def referenceFields(row: Row, schema: StructType, formats: Seq[Int],
      zone: java.time.ZoneId): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeShort(row.length)
    for (i <- 0 until row.length) {
      val fmt = if (formats.isEmpty) 0 else formats(i % formats.size)
      val cell =
        if (fmt == 1 && PgWire.binaryCapable(schema(i).dataType))
          PgWire.encodeBinary(row.get(i), schema(i).dataType, zone)
        else if (geom(i)) Option(row.get(i)).map(v =>
          v.asInstanceOf[Array[Byte]].map("%02X".format(_)).mkString.getBytes("UTF-8"))
        else PgWire.encodeValue(row.get(i), zone).map(_.getBytes("UTF-8"))
      cell match {
        case None    => d.writeInt(-1)
        case Some(b) => d.writeInt(b.length); d.write(b)
      }
    }
    bos.toByteArray
  }

  /** The first cell two DataRow bodies disagree on, for a readable
    * failure. */
  private def firstDiff(a: Array[Byte], b: Array[Byte]): String = {
    def cells(x: Array[Byte]): Seq[Option[Seq[Byte]]] = {
      val bb = java.nio.ByteBuffer.wrap(x)
      Seq.fill(bb.getShort.toInt) {
        val n = bb.getInt
        if (n < 0) None else { val c = new Array[Byte](n); bb.get(c); Some(c.toSeq) }
      }
    }
    cells(a).zip(cells(b)).zipWithIndex.collectFirst {
      case ((x, y), i) if x != y =>
        def show(c: Option[Seq[Byte]]) = c.map(v => new String(v.toArray, "UTF-8") +
          " " + v.map("%02x".format(_)).mkString)
        s"column $i: got ${show(x)}, want ${show(y)}"
    }.getOrElse("")
  }

  /** COPY TO STDOUT text and CSV lines as they were built from Rows. */
  private def referenceLine(row: Row, csv: Boolean, zone: java.time.ZoneId): String = {
    val fields = (0 until row.length).map(i => PgWire.encodeValue(row.get(i), zone))
    def csvField(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    (if (csv) fields.map(_.fold("")(csvField)).mkString(",")
    else fields.map {
      case None    => "\\N"
      case Some(s) => s.flatMap {
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c    => c.toString
      }
    }.mkString("\t")) + "\n"
  }

  test("ResultEncoder: DataRow and COPY bytes equal encodeBinary/encodeValue over the collected Row") {
    val schema = StructType(columns.zipWithIndex.map { case ((dt, _), i) =>
      StructField(s"c$i", dt) })
    val prevTz = java.util.TimeZone.getDefault
    // the Row path resolves pre-1900 Timestamps through the JVM zone
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try {
      for (zoneId <- Seq("UTC", "America/New_York", "EST"); java8 <- Seq(false, true)) {
        val sess = spark.newSession()
        sess.conf.set("spark.sql.session.timeZone", zoneId)
        sess.conf.set("spark.sql.datetime.java8API.enabled", java8.toString)
        val vals = new Values(zoneId.hashCode * 31L + (if (java8) 1 else 0))
        val rows = Seq.fill(150)(Row.fromSeq(columns.map { case (_, gen) => vals.orNull(gen(vals)) }))
        import scala.jdk.CollectionConverters._
        val local = sess.createDataFrame(rows.asJava, schema)
        // the same rows over four partitions: a job per partition packs
        // its rows, and the driver reads them back through one reused row
        val partitioned = sess.createDataFrame(
          sess.sparkContext.parallelize(rows, 4), schema)
        for ((frame, df) <- Seq("local" -> local, "partitioned" -> partitioned)) {
          val collected = df.collect()
          val internal = PgWire.resultRows(df).map(_.copy()).toArray
          assert(collected.length == internal.length)
          val zone = PgWire.sessionZone(sess)
          def bytes(enc: ResultEncoder, i: Int): Array[Byte] = {
            val b = new PgWire.WireBuffer()
            enc.write(internal(i), b)
            java.util.Arrays.copyOf(b.array, b.size)
          }
          for (formats <- Seq(Seq(0), Seq(1), Seq(1, 0))) {
            val enc = ResultEncoder(sess, schema, formats, geom)
            for (i <- collected.indices) {
              val want = referenceFields(collected(i), schema, formats, zone)
              val got = bytes(enc, i)
              assert(got.sameElements(want), s"$frame zone=$zoneId java8=$java8 " +
                s"formats=$formats ${firstDiff(got, want)} row=${collected(i)}")
            }
          }
          for (csv <- Seq(false, true)) {
            val enc = ResultEncoder(sess, schema, Seq(0),
              framing = if (csv) Framing.CopyCsv else Framing.CopyText)
            for (i <- collected.indices)
              assert(new String(bytes(enc, i), "UTF-8") ==
                referenceLine(collected(i), csv, zone),
                s"$frame zone=$zoneId java8=$java8 csv=$csv row=${collected(i)}")
          }
        }
      }
    } finally java.util.TimeZone.setDefault(prevTz)
  }

  test("resultRows: a partition packed into several chunks reads back row for row") {
    // random bytes do not compress: this one partition packs to about
    // 6 MiB, so rows straddle the boundaries between its chunks
    val r = new scala.util.Random(11)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("b", BinaryType), StructField("s", StringType)))
    val rows = (0 until 12000).map(i => Row(i.toLong,
      Array.fill(400 + r.nextInt(200))(r.nextInt().toByte),
      r.alphanumeric.take(r.nextInt(20)).mkString))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val unsafe = df.queryExecution.toRdd.map(_.copy()).collect()
    val chunks = PgWire.PackRows(null, unsafe.iterator)
    assert(chunks.length > 4, s"${chunks.length} chunks")
    assert(chunks.init.last.length == 1 << 20)
    val collected = df.collect()
    val internal = PgWire.resultRows(df).map(_.copy()).toArray
    assert(collected.length == internal.length)
    val enc = ResultEncoder(spark, schema, Seq(1))
    val zone = PgWire.sessionZone(spark)
    for (i <- collected.indices) {
      val b = new PgWire.WireBuffer()
      enc.write(internal(i), b)
      val got = java.util.Arrays.copyOf(b.array, b.size)
      val want = referenceFields(collected(i), schema, Seq(1), zone)
      assert(got.sameElements(want), s"row $i: ${firstDiff(got, want)}")
    }
  }

  test("ResultEncoder: negative-scale decimals and malformed UTF-8 strings") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.Decimal
    import org.apache.spark.unsafe.types.UTF8String
    val sess = spark.newSession()
    sess.conf.set("spark.sql.legacy.allowNegativeScaleOfDecimal", "true")
    val r = new scala.util.Random(7)
    val zone = PgWire.sessionZone(sess)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(sess.sessionState.conf) {
    val schema = StructType(Seq(StructField("d", DecimalType(10, -3)), StructField("s", StringType)))
    for (fmt <- Seq(0, 1); _ <- 1 to 300) {
      val bd = new java.math.BigDecimal(java.math.BigInteger.valueOf(r.nextLong() % 10000000000L), -3)
      // random bytes: malformed sequences, surrogates, overlongs
      val raw = Array.fill(r.nextInt(10))(pickByte(r))
      val row = new GenericInternalRow(Array[Any](
        Decimal(bd, 10, -3), UTF8String.fromBytes(raw)))
      val b = new PgWire.WireBuffer()
      ResultEncoder(sess, schema, Seq(fmt)).write(row, b)
      val want = referenceFields(Row(bd, UTF8String.fromBytes(raw).toString),
        schema, Seq(fmt), zone)
      assert(java.util.Arrays.copyOf(b.array, b.size).sameElements(want),
        s"fmt=$fmt $bd ${raw.toSeq}")
    }
    }
  }

  private def pickByte(r: scala.util.Random): Byte = {
    val specials = Array(0x41, 0xc0, 0xc1, 0xc3, 0xa9, 0xe0, 0xed, 0xa0, 0x80, 0xbf,
      0xf0, 0xf4, 0x90, 0x8f, 0xf5, 0xff, 0xe6, 0x97, 0xa5)
    (if (r.nextBoolean()) specials(r.nextInt(specials.length)) else r.nextInt(256)).toByte
  }

  test("native reader cell decoders equal convertBinary/convert for the same cells") {
    import graft.sources.PgNativeSource
    import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
    val vals = new Values(11)
    val r = new scala.util.Random(13)
    // (remote oid, the server-side type that encodes the cell, the
    // reader's Spark type, a value)
    val cases: Seq[(Int, DataType, DataType, () => Any)] = Seq(
      (16, BooleanType, BooleanType, () => vals.bool),
      (18, ByteType, ByteType, () => vals.byte),
      (21, ShortType, ShortType, () => vals.short),
      (21, ShortType, IntegerType, () => vals.short),
      (23, IntegerType, IntegerType, () => vals.int),
      (23, IntegerType, LongType, () => vals.int),
      (23, IntegerType, StringType, () => vals.int),
      (20, LongType, LongType, () => vals.long),
      (700, FloatType, FloatType, () => vals.float),
      (700, FloatType, DoubleType, () => vals.float),
      (701, DoubleType, DoubleType, () => vals.double),
      (1043, StringType, StringType, () => vals.string),
      (17, BinaryType, BinaryType, () => vals.bytes),
      (1082, DateType, DateType, () => vals.date),
      (1114, TimestampNTZType, TimestampType, () => vals.localDateTime),
      (1114, TimestampNTZType, TimestampNTZType, () => vals.localDateTime),
      (1184, TimestampNTZType, TimestampType, () => vals.localDateTime),
      (1184, TimestampNTZType, TimestampNTZType, () => vals.localDateTime),
      (1700, DecimalType(38, 18), DecimalType(38, 18), () => vals.decimal(20, 18)),
      (1700, DecimalType(38, 18), DecimalType(38, 18), () => vals.decimal(10, 0)))
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
      case (x: Float, y: Float)   => java.lang.Float.compare(x, y) == 0
      case _                      => a == b
    }
    for (zoneId <- Seq("UTC", "America/New_York", "EST")) {
      val zone = PgWire.zoneOf(zoneId)
      for ((oid, serverType, dt, gen) <- cases; format <- Seq(0, 1); _ <- 1 to 100) {
        val v = gen()
        if (v != null) {
          val cell =
            if (format == 1) PgWire.encodeBinary(v, serverType, zone).get
            else PgWire.encodeValue(v, zone).get.getBytes("UTF-8")
          val want =
            if (format == 1) PgNativeSource.convertBinary(oid, cell, dt, zone)
            else PgNativeSource.convert(new String(cell, "UTF-8"), dt, zone)
          // the cell sits inside a larger message, as in a DataRow body
          val pad = r.nextInt(5)
          val body = Array.fill[Byte](pad)(7) ++ cell ++ Array.fill[Byte](3)(9)
          val row = new SpecificInternalRow(Seq(dt))
          PgNativeSource.cellDecoder(oid, format, dt, zone)
            .decode(body, pad, cell.length, row, 0)
          assert(same(row.get(0, dt), want), s"zone=$zoneId oid=$oid $dt format=$format $v")
        }
      }
      // a text cell whose bytes are not well-formed UTF-8
      for (_ <- 1 to 300) {
        val cell = Array.fill(r.nextInt(10))(pickByte(r))
        val row = new SpecificInternalRow(Seq(StringType))
        PgNativeSource.cellDecoder(1043, 0, StringType, zone).decode(cell, 0, cell.length, row, 0)
        assert(row.get(0, StringType) ==
          PgNativeSource.convert(new String(cell, "UTF-8"), StringType, zone))
      }
    }
  }
}
