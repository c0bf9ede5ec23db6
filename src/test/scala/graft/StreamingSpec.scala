package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.EventIn

/** Row shape for the stream-stream join parity test (top-level so the
  * case-class Encoder derives). */
case class Ev(event_id: Long, user_id: Long, event_type: String, ts: Timestamp)

/** Batch/stream parity: feeding the same events through the streaming
  * ops (with a sentinel event advancing the watermark past end-of-input)
  * must reproduce the batch computation exactly. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(SparkTestBase.CodegenCacheKey, Graft.CodegenCacheEntries)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  /** u1: two sessions (gap > 30 min); u2: one session; u3 single event.
    * The sentinel (user 99, +1 day) only advances the watermark. */
  private def fixture: Seq[EventIn] = Seq(
    EventIn(1L, ts(0), 1.0), EventIn(1L, ts(10), 2.0), EventIn(1L, ts(20), 3.0),
    EventIn(1L, ts(80), 4.0), EventIn(1L, ts(95), 5.0),
    EventIn(2L, ts(5), 10.0), EventIn(2L, ts(25), 20.0),
    EventIn(3L, ts(50), 7.0))

  private val sentinel = EventIn(99L, ts(60 * 24), 0.0)

  test("sessionize: stream equals batch gaps-and-islands after flush") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventIn]
    val out = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
    val query = out.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    try {
      // two in-order batches then the sentinel: watermark then passes
      // every real session's end + gap, so timeouts flush them all
      mem.addData(fixture.filter(_.ts.getTime <= ts(25).getTime): _*)
      query.processAllAvailable()
      mem.addData(fixture.filter(_.ts.getTime > ts(25).getTime): _*)
      query.processAllAvailable()
      mem.addData(sentinel)
      query.processAllAvailable()
      mem.addData(EventIn(99L, ts(60 * 48), 0.0)) // advance once more
      query.processAllAvailable()

      val got = spark.table("sessions_out")
        .filter(col("user_id") =!= 99L)
        .select("user_id", "session_id", "n_events", "start_us", "end_us", "total_value")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet

      val expected = Set(
        (1L, 1L, 3L, us(0), us(20), 6.0),
        (1L, 2L, 2L, us(80), us(95), 9.0),
        (2L, 1L, 2L, us(5), us(25), 30.0),
        (3L, 1L, 1L, us(50), us(50), 7.0))
      assert(got == expected)
    } finally query.stop()
  }

  private def us(minutes: Long): Long = ts(minutes).getTime * 1000L

  test("sessionize: per-user numbering survives a timeout-flushed session") {
    // (round-11 review) the timeout branch used to state.remove() the
    // whole SessionState, so a user returning AFTER a watermark-flushed
    // session restarted at session_id 1 — colliding with the emitted
    // session and breaking the batch gaps-and-islands parity. The fix
    // retains a counter-only state for counterRetentionMinutes.
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventIn]
    val out = StreamingOps.sessionize(mem.toDS(), gapMinutes = 30)
    val query = out.writeStream.format("memory")
      .queryName("sessions_renum").outputMode("append").start()
    try {
      // session 1 for u7, flushed by TIMEOUT via the sentinel
      mem.addData(EventIn(7L, ts(0), 1.0), EventIn(7L, ts(10), 2.0))
      query.processAllAvailable()
      mem.addData(sentinel) // watermark passes end + gap -> timeout fires
      query.processAllAvailable()
      // u7 returns a day later: a NEW session, which must number 2
      mem.addData(EventIn(7L, ts(60 * 26), 3.0))
      query.processAllAvailable()
      mem.addData(EventIn(99L, ts(60 * 50), 0.0)) // flush session 2
      query.processAllAvailable()

      val got = spark.table("sessions_renum")
        .filter(col("user_id") === 7L)
        .select("session_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == Set((1L, 2L, 3.0), (2L, 1L, 3.0)), got)
    } finally query.stop()
  }

  test("hourly counts: finalized windows equal batch aggregation") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventIn]
    val withType = StreamingOps.hourlyEventCounts(
      mem.toDS().toDF().withColumn("event_type",
        when(col("user_id") % 2 === 0, "click").otherwise("view")),
      watermarkDelay = "1 hour")
    val query = withType.writeStream.format("memory")
      .queryName("hourly_out").outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      query.processAllAvailable()
      mem.addData(sentinel)
      query.processAllAvailable()
      mem.addData(EventIn(99L, ts(60 * 48), 0.0))
      query.processAllAvailable()

      val got = spark.table("hourly_out")
        .select("hour_start", "event_type", "n", "total_value")
        .as[(Timestamp, String, Long, Double)].collect()
        .filter(_._1.getTime < ts(60 * 12).getTime).toSet // drop sentinel windows

      val batch = fixture.toDS().toDF()
        .withColumn("event_type",
          when(col("user_id") % 2 === 0, "click").otherwise("view"))
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(got == batch)
    } finally query.stop()
  }

  test("gapFill: stream equals batch dense hourly grid with carry-forward") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{TypedEventIn, GapFillOut}
    // u1 spans 4 epoch-hours with 2 silent ones in the middle; u2 has
    // two adjacent hours; u1's two hour-0 events exercise the in-hour
    // (us, event_id) last-type tiebreak
    val evts = Seq(
      TypedEventIn(1L, 10L, "view", ts(0)), TypedEventIn(1L, 11L, "click", ts(10)),
      TypedEventIn(1L, 12L, "buy", ts(200)),
      TypedEventIn(2L, 20L, "view", ts(50)), TypedEventIn(2L, 21L, "click", ts(130)))
    val mem = MemoryStream[TypedEventIn]
    val out = StreamingOps.gapFill(mem.toDS(), watermarkDelay = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("gapfill_out").outputMode("append").start()
    try {
      mem.addData(evts.filter(_.ts.getTime <= ts(60).getTime): _*)
      query.processAllAvailable()
      mem.addData(evts.filter(_.ts.getTime > ts(60).getTime): _*)
      query.processAllAvailable()
      mem.addData(TypedEventIn(99L, 0L, "x", ts(60 * 24)))
      query.processAllAvailable()
      mem.addData(TypedEventIn(99L, 1L, "x", ts(60 * 48)))
      query.processAllAvailable()

      val got = spark.table("gapfill_out")
        .filter(col("user_id") =!= 99L)
        .as[GapFillOut].collect().toSet

      // batch oracle: q35's dense-grid semantics replayed in memory
      val expected = evts.groupBy(_.user_id).flatMap { case (u, es) =>
        def us(e: TypedEventIn) = e.ts.getTime * 1000L
        val byHr = es.groupBy(e => us(e) / 3600000000L)
        var carried: String = null
        (byHr.keys.min to byHr.keys.max).map { h =>
          byHr.get(h).foreach(g =>
            carried = g.maxBy(e => (us(e), e.event_id)).event_type)
          GapFillOut(u, h, byHr.get(h).map(_.size.toLong).getOrElse(0L), carried)
        }
      }.toSet
      assert(got == expected)
    } finally query.stop()
  }

  test("anomalyScores: finalized hours equal batch q38 bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.TypedEventIn
    val sfDir = "/root/testdata/sf0.001"
    val evts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[TypedEventIn].collect().sortBy(_.ts.getTime)
    val mem = MemoryStream[TypedEventIn]
    val out = StreamingOps.anomalyScores(mem.toDS(), watermarkDelay = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("anomaly_out").outputMode("append").start()
    try {
      val (a, b) = evts.splitAt(evts.length / 2)
      mem.addData(a.toSeq: _*)
      query.processAllAvailable()
      mem.addData(b.toSeq: _*)
      query.processAllAvailable()
      mem.addData(TypedEventIn(99L, -1L, "zz_sentinel",
        new Timestamp(evts.last.ts.getTime + 72L * 3600 * 1000)))
      query.processAllAvailable()
      val got = spark.table("anomaly_out")
        .filter(col("event_type") =!= "zz_sentinel")
        .select("event_type", "hr", "cnt", "mu", "sigma", "z", "is_anomaly")
        .as[(String, Long, Long, Option[Double], Option[Double], Option[Double], Boolean)]
        .collect().toSet
      val batch = SparkEntry.queries("q38_hourly_anomaly")(spark, sfDir)
        .select("event_type", "hr", "cnt", "mu", "sigma", "z", "is_anomaly")
        .as[(String, Long, Long, Option[Double], Option[Double], Option[Double], Boolean)]
        .collect().toSet
      assert(got.nonEmpty && got == batch,
        s"stream/batch mismatch: only-stream=${(got -- batch).take(3)} only-batch=${(batch -- got).take(3)}")
      assert(got.exists(_._4.isDefined), "some hours must carry a full trailing window")
    } finally query.stop()
  }

  test("dedupByKey keeps first occurrence per key") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventIn]
    val out = StreamingOps.dedupByKey(mem.toDS().toDF(), "user_id", "ts")
    val query = out.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(fixture: _*)
      query.processAllAvailable()
      val got = spark.table("dedup_out")
        .select("user_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(1L, 2L, 3L))
    } finally query.stop()
  }
  test("eventsFileStream: file-source stream aggregates a landing zone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-landing").toString
    fixture.take(4).toDS().toDF().write.mode("overwrite").parquet(dir)
    val stream = StreamingOps.eventsFileStream(spark, dir)
      .groupBy().count() // complete-mode global count
    val query = stream.writeStream.format("memory")
      .queryName("file_stream_out").outputMode("complete").start()
    try {
      query.processAllAvailable()
      assert(spark.table("file_stream_out").head().getLong(0) == 4L)
      // a new file landing in the zone is picked up incrementally
      fixture.drop(4).toDS().toDF().write.mode("append").parquet(dir)
      query.processAllAvailable()
      assert(spark.table("file_stream_out").head().getLong(0) == fixture.length.toLong)
    } finally query.stop()
  }

  test("trendingTokens: exact-regime snapshot equals batch GROUP BY counts") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{LangDocIn, HeavyHitterOut}
    // real corpus (31-token vocab per lang): k=40 ≥ vocab → exact regime
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("lang", "doc_id", "text").as[(String, Long, String)].collect()
      .map { case (l, id, t) => LangDocIn(l, id, t, new Timestamp(1700000000000L + id)) }
    val mem = MemoryStream[LangDocIn]
    val out = StreamingOps.trendingTokens(mem.toDS(), k = 40)
    val query = out.writeStream.format("memory")
      .queryName("trending_out").outputMode("update").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      Seq(b1, b2, b3).foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }

      val all = spark.table("trending_out").as[HeavyHitterOut].collect()
      val lastGen = all.groupBy(_.lang).map { case (l, rs) => l -> rs.map(_.gen).max }
      val got = all.filter(r => r.gen == lastGen(r.lang))
        .map(r => (r.lang, r.token) -> r.est).toMap

      val batch = docs.toSeq.map(d => (d.lang, d.doc_id, d.text))
        .toDF("lang", "doc_id", "text")
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("lang", "tok").count()
        .as[(String, String, Long)].collect()
        .map { case (l, t, n) => (l, t) -> n }.toMap
      assert(got == batch,
        s"stream snapshot diverged: ${got.size} vs ${batch.size} entries")
    } finally query.stop()
  }

  test("nearDupCandidates: streaming LSH equals the batch candidate stage") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    graft.functions.SketchFunctions.registerAll(spark)

    // real corpus slice (contains planted near-dup pairs), arrival
    // order by doc_id across three micro-batches
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamingOps.DocIn(r.getLong(0), r.getString(1), ts(r.getLong(0))))
      .sortBy(_.doc_id)

    val mem = MemoryStream[StreamingOps.DocIn]
    val out = StreamingOps.nearDupCandidates(mem.toDS())
    val query = out.writeStream.format("memory")
      .queryName("neardup_out").outputMode("append").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }

      val got = spark.table("neardup_out")
        .select("a", "b").as[(Long, Long)].collect().toSet

      // batch candidate stage on the same data (d01's banding, pre-verify)
      val batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"),
          posexplode(expr(
            "element_at(transform(array(minhash_sig(" + graft.queries.DedupOps.shE +
              ")), sg -> transform(sequence(0, 15), b -> xxhash64(slice(sg, b * 4 + 1, 4)))), 1)"))
            .as(Seq("band", "bhash")))
      val l = batch.select(col("band"), col("bhash"), col("doc_id").as("a"))
      val r = batch.select(col("band"), col("bhash"), col("doc_id").as("b"))
      val expected = l.join(r, Seq("band", "bhash")).where(col("a") < col("b"))
        .select("a", "b").as[(Long, Long)].collect().toSet

      assert(got == expected && expected.nonEmpty,
        s"stream ${got.size} pairs vs batch ${expected.size}")
    } finally query.stop()
  }

  test("nearDupVerified: stream-static verify equals batch d01 output") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = corpus.select(col("doc_id"), col("text")).collect()
      .map(r => StreamingOps.DocIn(r.getLong(0), r.getString(1), ts(r.getLong(0))))
      .sortBy(_.doc_id)

    val mem = MemoryStream[StreamingOps.DocIn]
    val out = StreamingOps.nearDupVerified(mem.toDS(), corpus)
    val query = out.writeStream.format("memory")
      .queryName("neardup_verified").outputMode("append").start()
    try {
      mem.addData(docs.toSeq: _*)
      query.processAllAvailable()
      val got = spark.table("neardup_verified")
        .select("a", "b", "jaccard").distinct()
        .as[(Long, Long, Double)].collect().toSet
      // batch oracle: d01's registered pipeline on the same sf
      val expected = SparkEntry.queries("d01_minhash_lsh_pairs")(
        spark, "/root/testdata/sf0.001")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected && expected.nonEmpty,
        s"stream ${got.size} verified pairs vs batch ${expected.size}")
    } finally query.stop()
  }

  test("toPartitionedSink lands partitioned, cluster-sorted parquet equal to the input") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ssink").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val rows = events.as[(Long, Long, String)].collect().toSeq

    val mem = MemoryStream[(Long, Long, String)]
    val query = StreamingOps.toPartitionedSink(
      mem.toDF().toDF("event_id", "user_id", "event_type"),
      s"$dir/out", s"$dir/ckpt",
      partitionBy = Seq("event_type"), clusterBy = Seq("user_id"))
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      for (b <- Seq(b1, b2)) { mem.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()

    val back = spark.read.parquet(s"$dir/out")
      .select("event_id", "user_id", "event_type").as[(Long, Long, String)].collect()
    assert(back.sorted.toSeq == rows.sorted)
    // layout: one directory per event_type (partition pruning for readers)
    val dirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_type=")).toSet
    assert(dirs == rows.map(r => s"event_type=${r._3}").toSet)
  }

  test("viewClickJoin: stream-stream interval join equals batch join") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val all = events.as[(Long, Long, String, Timestamp)].collect()
      .map(t => Ev(t._1, t._2, t._3, t._4)).sortBy(_.ts.getTime)

    val vMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val out = StreamingOps.viewClickJoin(
      vMem.toDF().filter(col("event_type") === "view"),
      cMem.toDF().filter(col("event_type") === "click"))
    val query = out.writeStream.format("memory")
      .queryName("vc_join").outputMode("append").start()
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      for (b <- Seq(b1, b2)) {
        vMem.addData(b.toSeq: _*); cMem.addData(b.toSeq: _*)
        query.processAllAvailable()
      }
      val got = spark.table("vc_join")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      val v = events.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      val c = events.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val expected = v.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(got == expected && expected.nonEmpty,
        s"stream ${got.size} vs batch ${expected.size}")
    } finally query.stop()
  }

  test("bloomPrefilter: streamed maybe-dup flags equal the batch d14 filter") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // same split as d14: base corpus builds the filter, new shard streams
    val base = all.where(!col("source").isin("src18", "src19"))
    val baseChunks = base
      .withColumn("tk", filter(split(col("text"), "\\s+"), t => t =!= ""))
      .select(explode(expr(
        """CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>)
          |ELSE transform(sequence(0, CAST(ceil(size(tk) / 8.0D) AS INT) - 1),
          |       i -> md5(array_join(slice(tk, i * 8 + 1, 8), ' ')))
          |END""".stripMargin)).as("dg"))
    val bloom = StreamingOps.bloomOf(baseChunks)
    assert(bloom.length == 256 && bloom.exists(_ != 0L))

    val newDocs = all.where(col("source").isin("src18", "src19"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamingOps.DocIn(r.getLong(0), r.getString(1), ts(r.getLong(0))))
      .sortBy(_.doc_id)
    assume(newDocs.nonEmpty, "fixture has no new-shard docs at this sf")
    val mem = MemoryStream[StreamingOps.DocIn]
    val out = StreamingOps.bloomPrefilter(mem.toDS(), bloom)
    val query = out.writeStream.format("memory")
      .queryName("bloom_out").outputMode("append").start()
    try {
      val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
      Seq(b1, b2).foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }
      val got = spark.table("bloom_out")
        .select("doc_id", "dg", "maybe_dup").distinct()
        .as[(Long, String, Boolean)].collect().map(r => (r._1, r._2) -> r._3).toMap

      // batch replay of the SAME filter probe on the same chunks
      val expected = spark.createDataset(newDocs.toSeq).toDF()
        .withColumn("tk", filter(split(col("text"), "\\s+"), t => t =!= ""))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>)
            |ELSE transform(sequence(0, CAST(ceil(size(tk) / 8.0D) AS INT) - 1),
            |       i -> md5(array_join(slice(tk, i * 8 + 1, 8), ' ')))
            |END""".stripMargin)).as("dg"))
        .distinct().collect().map { r =>
          val dg = r.getString(1)
          val hit = (0 until 4).forall { i =>
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(s"$dg#$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
            val pos = java.lang.Long.parseLong(md.substring(0, 15), 16) % 16384
            (bloom((pos / 64).toInt) & (1L << (pos % 64).toInt)) != 0
          }
          (r.getLong(0), dg) -> hit
        }.toMap
      assert(got == expected, s"stream ${got.size} vs batch ${expected.size}")
      // the fixture's near-dup shard means the filter actually fires
      assert(got.values.exists(identity) || expected.values.forall(!_))
    } finally query.stop()
  }

  test("segmentDedup: streamed kept-digest set equals the batch segment universe") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamingOps.DocIn(r.getLong(0), r.getString(1), ts(r.getLong(0))))
      .sortBy(_.doc_id)
    val mem = MemoryStream[StreamingOps.DocIn]
    // the corpus spans ~500 min of event time; retention must cover it
    // or early digests age out of state and late dups re-emit (the
    // documented within-watermark semantics)
    val out = StreamingOps.segmentDedup(mem.toDS(), watermarkDelay = "2 days")
    val query = out.writeStream.format("memory")
      .queryName("segdedup_out").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      Seq(b1, b2).foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }
      val kept = spark.table("segdedup_out")
      val keptDigests = kept.select("seg_hash").as[String].collect()
      // exactly one kept copy per distinct segment, across micro-batches
      assert(keptDigests.length == keptDigests.distinct.length)
      // and the batch universe: every distinct 8-token segment digest,
      // computed independently on the same corpus
      val batchDigests = docs.flatMap(d =>
        d.text.split("\\s+").filter(_.nonEmpty).grouped(8).map(_.mkString(" ")))
        .map(s => java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
        .distinct.sorted
      assert(keptDigests.sorted.toSeq == batchDigests.toSeq,
        s"stream ${keptDigests.length} vs batch ${batchDigests.length}")
      // dup segments exist in the corpus, so dedup actually dropped rows
      assert(keptDigests.length <
        docs.map(d => math.max(1,
          (d.text.split("\\s+").count(_.nonEmpty) + 7) / 8)).sum)
    } finally query.stop()
  }

  test("leaderboard: merged shard snapshots equal batch q43 bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{LeaderboardOut, ValuedEventIn}
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf)
      .select("user_id", "event_type", "value", "event_id").collect()
      .map(r => (r.getLong(3), ValuedEventIn(r.getLong(0), r.getString(1),
        r.getDouble(2), new Timestamp(1700000000000L + r.getLong(3)))))
      .sortBy(_._1).map(_._2)
    val mem = MemoryStream[ValuedEventIn]
    val out = StreamingOps.leaderboard(mem.toDS(), k = 5, shards = 4)
    val query = out.writeStream.format("memory")
      .queryName("leaderboard_out").outputMode("update").start()
    try {
      val (b1, rest) = events.splitAt(events.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      Seq(b1, b2, b3).foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }

      // consumer-side exact merge: max-gen snapshot per (type, shard),
      // then global top-5 per type by (-total, user) over shard tops
      val all = spark.table("leaderboard_out").as[LeaderboardOut].collect()
      val lastGen = all.groupBy(r => (r.event_type, r.shard))
        .map { case (k2, rs) => k2 -> rs.map(_.gen).max }
      val merged = all
        .filter(r => r.gen == lastGen((r.event_type, r.shard)))
        .groupBy(_.event_type)
        .toSeq
        .flatMap { case (t, rs) =>
          rs.sortBy(r => (-r.total_micros, r.user_id)).take(5).zipWithIndex
            .map { case (r, i) =>
              (t, i + 1) -> ((r.user_id, r.total_micros, r.n_events)) }
        }.toMap

      // batch truth: the oracle-verified q43 on the same scale factor
      val batch = SparkEntry.queries("q43_type_top_users")(spark, sf).collect()
        .map(r => (r.getString(0), r.getInt(4)) ->
          ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      assert(merged.size == batch.size)
      merged.foreach { case (key, (u, micros, n)) =>
        val (bu, btotal, bn) = batch(key)
        assert(u == bu && n == bn, s"$key user/count")
        // micro-units → the same double dsum produces
        assert(BigDecimal(micros)./(BigDecimal(1000000)).toDouble == btotal,
          s"$key total")
      }
    } finally query.stop()
  }

  test("changepointMonitor: drained snapshot equals batch q44 bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "ts").collect()
      .map(r => StreamingOps.TypedEventIn(r.getLong(0), r.getLong(1),
        r.getString(2), r.getTimestamp(3)))
      .sortBy(_.event_id)

    val mem = MemoryStream[StreamingOps.TypedEventIn]
    val out = StreamingOps.changepointMonitor(mem.toDS())
    val query = out.writeStream.format("memory")
      .queryName("changepoint_out").outputMode("update").start()
    try {
      val thirds = rows.grouped((rows.length + 2) / 3).toSeq
      thirds.foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }
      val all = spark.table("changepoint_out")
        .as[StreamingOps.ChangepointOut].collect()
      val latest = all.groupBy(_.event_type).map { case (_, rs) =>
        rs.maxBy(_.gen)
      }
      val batch = SparkEntry.queries("q44_cusum_changepoint")(spark, sf)
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))).toMap
      assert(latest.size == batch.size && batch.nonEmpty)
      latest.foreach { r =>
        val (hr, c, peak, rising) = batch(r.event_type)
        assert(r.change_hr == hr && r.n_at_change == c &&
          r.cusum_peak == peak && r.rising == rising, s"type ${r.event_type}")
      }
      // the monitor revises its estimate as data arrives: >= 1 gen/type
      assert(all.groupBy(_.event_type).forall(_._2.map(_.gen).max == 3))
    } finally query.stop()
  }

  test("contaminationGate: streamed train docs equal batch t09 bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    // same split as batch t09: eval = doc_id < 25, train = the rest
    val evalGrams = StreamingOps.evalGramsOf(corpus.where(col("doc_id") < 25))
    val train = corpus.where(col("doc_id") >= 25)
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamingOps.DocIn(r.getLong(0), r.getString(1), ts(r.getLong(0))))
      .sortBy(_.doc_id)

    val mem = MemoryStream[StreamingOps.DocIn]
    val out = StreamingOps.contaminationGate(mem.toDS(), evalGrams)
    val query = out.writeStream.format("memory")
      .queryName("contam_out").outputMode("update").start()
    try {
      // three micro-batches; each doc arrives once, so each emits once
      val thirds = train.grouped((train.length + 2) / 3).toSeq
      thirds.foreach { b => mem.addData(b.toSeq: _*); query.processAllAvailable() }
      val got = spark.table("contam_out")
        .as[(Long, Long, Int, Double, Boolean)].collect().toSet
      val batch = SparkEntry.queries("t09_eval_contamination")(spark, sf)
        .as[(Long, Long, Int, Double, Boolean)].collect().toSet
      assert(got == batch && batch.nonEmpty,
        s"stream ${got.size} rows vs batch ${batch.size}")
      assert(got.exists(_._5), "fixture should contain contaminated docs")
    } finally query.stop()
  }

  test("hop window: streaming window(2h,1h) equals the batch hop explode (q54 semantics)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // events spread across 4 hours so most land in two overlapping windows
    val rows = Seq(0L, 30L, 70L, 119L, 125L, 180L, 230L)
      .zipWithIndex.map { case (m, i) => EventIn(1L, ts(m), (i + 1).toDouble) }
    val sent = EventIn(99L, ts(60 * 24 * 30), 0.0)

    val mem = MemoryStream[EventIn]
    val agg = mem.toDS().toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(expr("unix_micros(w.start) div 3600000000").as("win_start_hr"),
        col("n"), col("total"))
    val query = agg.writeStream.format("memory")
      .queryName("hop_out").outputMode("append").start()
    try {
      mem.addData(rows: _*); query.processAllAvailable()
      mem.addData(sent); query.processAllAvailable()
      mem.addData(EventIn(99L, ts(60 * 24 * 60), 0.0)); query.processAllAvailable()

      val batch = rows.toDF()
        .select(col("value"), expr("unix_micros(ts) div 3600000000").as("hr"),
          explode(sequence(lit(0), lit(1))).as("i"))
        .withColumn("win_start_hr", col("hr") - col("i"))
        .groupBy(col("win_start_hr"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .as[(Long, Long, Double)].collect().toSet
      // drop the sentinels' own windows: keep only the fixture hour range
      val maxHr = batch.map(_._1).max
      val got = spark.table("hop_out")
        .as[(Long, Long, Double)].collect().toSet
        .filter(_._1 <= maxHr)
      assert(got == batch && batch.nonEmpty,
        s"stream ${got.size} windows vs batch ${batch.size}")
    } finally query.stop()
  }

  test("corpusGate: streamed survivors equal the batch funnel's exact-dedup stage") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.DocIn
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // arrival follows doc_id order, so first-arrival-wins dedup equals
    // the batch min-doc_id rule exactly
    val wire = docs.map { case (id, t) => DocIn(id, t, ts(id)) }
    val mem = MemoryStream[DocIn]
    val out = StreamingOps.corpusGate(mem.toDS())
    val query = out.writeStream.format("memory")
      .queryName("gate_out").outputMode("append").start()
    try {
      val (b1, rest) = wire.splitAt(wire.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); query.processAllAvailable()
      }
      mem.addData(DocIn(-1L, "sentinel", ts(60 * 24 * 30)))
      query.processAllAvailable()
      val streamed = spark.table("gate_out")
        .select("doc_id").as[Long].collect().toSet - (-1L)
      // batch truth: charset gate -> gopher gate -> keep min doc_id per text
      def toks(t: String) = t.split("\\s+").toSeq.filter(_.nonEmpty)
      def charset(t: String) = t.nonEmpty && {
        val n = t.length
        t.count(c => c < 1 || c > 127).toDouble / n <= 0.1 &&
        t.count(c => c >= '0' && c <= '9').toDouble / n <= 0.3 &&
        t.count(c => c >= 'A' && c <= 'Z').toDouble / n <= 0.3
      }
      def gopher(t: String) = {
        val tk = toks(t); val n = tk.size
        val lines = t.split("\n", -1)
        n >= 30 && n <= 50000 &&
          { val m = t.count(_ != ' ').toDouble / n; m >= 2.0 && m <= 12.0 } &&
          tk.count(_.exists("#%$@".contains(_))).toDouble / n < 0.5 &&
          lines.count(_.startsWith("...")).toDouble / lines.length <= 0.3 &&
          tk.count(_.exists(_.isLetter)).toDouble / n >= 0.6
      }
      val batch = docs.filter(d => charset(d._2) && gopher(d._2))
        .groupBy(_._2).map { case (_, g) => g.map(_._1).min }.toSet
      assert(streamed == batch && batch.nonEmpty,
        s"stream ${streamed.size} kept vs batch ${batch.size}")
    } finally query.stop()
  }

  test("scd2: merged version emissions equal batch q59 bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{Scd2Out, TypedValuedEventIn}
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "value", "ts").collect()
      .map(r => TypedValuedEventIn(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getTimestamp(4)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[TypedValuedEventIn]
    val out = StreamingOps.scd2(mem.toDS())
    val query = out.writeStream.format("memory")
      .queryName("scd2_out").outputMode("update").start()
    try {
      val (b1, rest) = events.splitAt(events.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); query.processAllAvailable()
      }
      // downstream merge: latest emission per (key, version) wins
      val all = spark.table("scd2_out").as[Scd2Out].collect()
      assert(!all.exists(_.version == -1), "no late repairs expected in-order")
      val merged = all.zipWithIndex
        .groupBy(r => (r._1.user_id, r._1.event_type, r._1.version))
        .map { case (_, rs) => rs.maxBy(_._2)._1 }.toSeq
        .map(r => (r.user_id, r.event_type, r.value, r.valid_from_us,
          r.valid_to_us, r.version, r.is_current))
        .sortBy(r => (r._1, r._2, r._6))
      val batch = SparkEntry.queries("q59_scd2_history")(spark, sf)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getInt(5), r.getBoolean(6)))
      assert(merged == batch && batch.nonEmpty,
        s"stream ${merged.size} versions vs batch ${batch.size}")
    } finally query.stop()
  }

  test("stickiness: drained day snapshots equal batch q57 bit-for-bit") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.StickinessOut
    val sf = "/root/testdata/sf0.001"
    val events = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(2), EventIn(r.getLong(0), r.getTimestamp(1), 0.0)))
      .sortBy(_._1).map(_._2)
    val mem = MemoryStream[EventIn]
    val out = StreamingOps.stickiness(mem.toDS())
    val query = out.writeStream.format("memory")
      .queryName("stickiness_out").outputMode("update").start()
    try {
      val (b1, rest) = events.splitAt(events.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b.toSeq: _*); query.processAllAvailable()
      }
      // consumer-side drain: max-gen snapshot per day
      val all = spark.table("stickiness_out").as[StickinessOut].collect()
      val lastGen = all.groupBy(_.day_num)
        .map { case (d, rs) => d -> rs.map(_.gen).max }
      val merged = all.filter(r => r.gen == lastGen(r.day_num))
        .map(r => (r.day_num, r.dau, r.wau, r.stickiness)).toSeq.sorted
      // batch truth: the oracle-verified q57 on the same scale factor
      val batch = SparkEntry.queries("q57_dau_wau_stickiness")(spark, sf)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sorted
      assert(merged == batch && batch.nonEmpty,
        s"stream ${merged.size} days vs batch ${batch.size}")
    } finally query.stop()
  }

  test("lastTouchAttribution: stream equals batch q49 purchase rows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{AttrEventIn, AttributionOut}
    import org.apache.spark.sql.expressions.Window
    val sfDir = "/root/testdata/sf0.001"
    val evts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))
      .as[AttrEventIn].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[AttrEventIn]
    val out = StreamingOps.lastTouchAttribution(mem.toDS(), watermarkDelay = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("attr_out").outputMode("append").start()
    try {
      val (a, b) = evts.splitAt(evts.length / 2)
      mem.addData(a.toSeq: _*)
      query.processAllAvailable()
      mem.addData(b.toSeq: _*)
      query.processAllAvailable()
      mem.addData(AttrEventIn(99L, -1L, "zz_sentinel", 0.0,
        new Timestamp(evts.last.ts.getTime + 72L * 3600 * 1000)))
      query.processAllAvailable()
      val got = spark.table("attr_out")
        .filter(col("user_id") =!= 99L)
        .as[AttributionOut].collect().toSet

      // batch oracle: q49's purchase-level stage (the rows its GROUP BY
      // then aggregates), same window frame and (us, event_id) tiebreak
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val batch = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
        .withColumn("touch_type",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .withColumn("touch_us",
          last(when(col("event_type") =!= "purchase", col("us")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("us"),
          when(col("touch_us").isNotNull &&
            col("us") - col("touch_us") <= 604800000000L,
            col("touch_type")).otherwise("none").as("touch_type"),
          col("value"))
        .as[AttributionOut].collect().toSet
      assert(got.nonEmpty && got == batch,
        s"stream/batch mismatch: only-stream=${(got -- batch).take(3)} only-batch=${(batch -- got).take(3)}")
      assert(got.exists(_.touch_type != "none"), "some purchases must attribute")
    } finally query.stop()
  }

  test("geofenceTransitions: stream equals batch sp15 exactly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import StreamingOps.{TypedEventIn, GeofenceOut}
    val sfDir = "/root/testdata/sf0.001"
    val evts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[TypedEventIn].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[TypedEventIn]
    val out = StreamingOps.geofenceTransitions(mem.toDS(), watermarkDelay = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("geo_out").outputMode("append").start()
    try {
      val (a, b) = evts.splitAt(evts.length / 2)
      mem.addData(a.toSeq: _*)
      query.processAllAvailable()
      mem.addData(b.toSeq: _*)
      query.processAllAvailable()
      mem.addData(TypedEventIn(99L, -1L, "zz_sentinel",
        new Timestamp(evts.last.ts.getTime + 72L * 3600 * 1000)))
      query.processAllAvailable()
      val got = spark.table("geo_out")
        .filter(col("user_id") =!= 99L)
        .as[GeofenceOut].collect().toSet
      val batch = SparkEntry.queries("sp15_geofence_transitions")(spark, sfDir)
        .select("user_id", "event_id", "from_zone", "to_zone")
        .as[GeofenceOut].collect().toSet
      assert(got.nonEmpty && got == batch,
        s"stream/batch mismatch: only-stream=${(got -- batch).take(3)} only-batch=${(batch -- got).take(3)}")
    } finally query.stop()
  }

  test("lengthDriftMonitor: stream equals the batch windowed chi2") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingOps.DocIn
    // token lengths 1..5 plus an 11+ monster; two 1-hour windows
    val docs = Seq(
      DocIn(1L, "a bb ccc dddd eeeee", ts(5)),
      DocIn(2L, "a a bb bb ccc", ts(25)),
      DocIn(3L, "dddd eeeee supercalifragilistic", ts(50)),
      DocIn(4L, "a bb ccc", ts(70)),
      DocIn(5L, "eeeee eeeee eeeee eeeee", ts(95)))
    val driftSentinel = DocIn(99L, "x", ts(60 * 24))
    val baseline = Seq(0.25, 0.2, 0.2, 0.15, 0.15, 0.0, 0.0, 0.0, 0.0, 0.0, 0.05)
    val mem = MemoryStream[DocIn]
    val out = StreamingOps.lengthDriftMonitor(mem.toDS(), baseline,
      windowDur = "1 hour", watermarkDelay = "1 hour")
    val query = out.writeStream.format("memory")
      .queryName("drift_out").outputMode("append").start()
    try {
      mem.addData(docs: _*)
      query.processAllAvailable()
      mem.addData(driftSentinel)
      query.processAllAvailable()
      val cutoff = ts(60 * 12).getTime
      val got = spark.table("drift_out")
        .as[(Timestamp, Long, Double, Boolean)].collect()
        .filter(_._1.getTime < cutoff).toSet
      // parity by construction: withWatermark is a no-op on batch
      // Datasets, so the SAME operator runs as a plain aggregation
      val batch = StreamingOps.lengthDriftMonitor(
          (docs :+ driftSentinel).toDS(), baseline,
          windowDur = "1 hour", watermarkDelay = "1 hour")
        .as[(Timestamp, Long, Double, Boolean)].collect()
        .filter(_._1.getTime < cutoff).toSet
      assert(got.nonEmpty && got == batch,
        s"stream/batch mismatch: only-stream=${(got -- batch).take(3)} only-batch=${(batch -- got).take(3)}")
    } finally query.stop()
  }

  test("lengthDriftMonitor: single-nonzero-bucket baseline is rejected up front") {
    // round-6 advisor: one nonzero bucket collapses everything into a
    // single group, df = 0, and the old guard let crit99(-1) throw an
    // ArrayIndexOutOfBounds at stream construction — fail with a clear
    // message instead
    import spark.implicits._
    import graft.streaming.StreamingOps.DocIn
    val degenerate = Seq(1.0) ++ Seq.fill(10)(0.0)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.lengthDriftMonitor(
        Seq(DocIn(1L, "a b", ts(1))).toDS(), degenerate)
    }
    assert(e.getMessage.contains("2 nonzero buckets"))
  }
}
