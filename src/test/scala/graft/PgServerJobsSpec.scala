package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.server.PgServer
import graft.sources.PgWireClient

/** The Spark work one wire statement costs: the jobs its result runs
  * (one per result partition) and the analyses an extended-protocol
  * cycle pays (one).
  */
class PgServerJobsSpec extends GraftSuite {

  private def withClient(session: SparkSession)(f: PgWireClient => Unit): Unit = {
    val srv = new PgServer(session, port = 0, password = None)
    val port = srv.start()
    try {
      val c = new PgWireClient("127.0.0.1", port, "postgres", "postgres", "")
      try f(c) finally c.close()
    } finally srv.stop()
  }

  private def rows(c: PgWireClient): Seq[Seq[Option[String]]] =
    Iterator.continually(c.fetchRow()).takeWhile(_ != null).map(_.toSeq).toSeq

  /** The jobs wire connections started while `body` ran, with their
    * job groups. A marker job submitted after `body` ends the count:
    * the listener bus delivers events in order, so once the marker's
    * start arrives every earlier start has arrived too. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = s"pg-jobs-marker-${System.nanoTime}"
    val groups = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == marker) markerSeen.countDown()
        else if (group != null && group.startsWith("pg-conn-")) groups.add(group)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "end of the counted statements")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reported")
      groups.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("a result runs one job per partition, in partition order, none for a LIMIT 0 describe") {
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("jobs_spec_orders")
    try withClient(spark) { c =>
      // one partition: one job
      var n = 0
      val one = jobsDuring {
        c.executeExtended("SELECT * FROM jobs_spec_orders", Array(0))
        n = rows(c).size
      }
      assert(n == spark.table("jobs_spec_orders").count())
      assert(one.size == 1, s"jobs: $one")

      // five partitions, the second one empty: five jobs, rows in order
      val sql = "SELECT id FROM range(0, 50, 1, 5) WHERE id < 10 OR id >= 20"
      assert(spark.sql(sql).rdd.getNumPartitions == 5)
      var ids = Seq.empty[Long]
      val five = jobsDuring {
        c.executeExtended(sql, Array(0))
        ids = rows(c).map(_.head.get.toLong)
      }
      assert(ids == (0L until 10L) ++ (20L until 50L))
      assert(five.size == 5, s"jobs: $five")
      // every job ran in the connection's job group, so a CancelRequest
      // reaches it
      assert(five.distinct.size == 1)

      // the native postgres_scan describe starts no job in either
      // protocol: its empty plan has no partitions
      val q = "SELECT * FROM jobs_spec_orders LIMIT 0"
      var simple = Seq.empty[Seq[Option[String]]]
      var extended = Seq.empty[Seq[Option[String]]]
      val none = jobsDuring {
        c.execute(q); simple = rows(c)
        c.executeExtended(q, Array(0)); extended = rows(c)
      }
      assert(none.isEmpty, s"$q started ${none.size} job(s)")
      assert(simple.isEmpty && extended.isEmpty)
    } finally spark.catalog.dropTempView("jobs_spec_orders")
  }

  test("one Parse/Bind/Describe/Execute/Sync cycle analyzes its statement once") {
    val analyses = new AtomicInteger()
    // a session of its own on the running context, so the counting
    // rule stays out of every other suite's sessions; the wire
    // connections inherit it
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    val counted = try SparkSession.builder()
      .withExtensions { e =>
        new graft.plans.GraftExtensions()(e)
        e.injectCheckRule(_ => plan =>
          if (plan.output.exists(_.name == "analysis_probe")) analyses.incrementAndGet())
      }
      .create()
    finally {
      prevDefault.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      prevActive.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    counted.conf.set("spark.sql.session.timeZone", "UTC")
    withClient(counted) { c =>
      c.executeExtended("SELECT id AS analysis_probe FROM range(3)", Array(1))
      assert(rows(c).size == 3)
      assert(analyses.get == 1, s"${analyses.get} analyses")
    }
  }
}
