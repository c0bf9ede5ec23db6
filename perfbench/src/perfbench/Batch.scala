package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec

import graft.util.Persist

/** The operations a workload runs, around one engine instance. */
trait Workload {
  /** One engine set-up; the last one stays up for the measured phase. */
  def setup(): Unit
  def teardown(): Unit
  def spark: SparkSession
  /** Untimed: warm-up, reference answers and the verification pass. */
  def prepare(rec: Recorder): Unit
  /** Closed-loop operations until `seconds` have passed. */
  def window(rec: Recorder, seconds: Double): Unit
  /** Checks that need the whole run (durability, leaks). */
  def finish(rec: Recorder): Unit
  /** Per-layer metrics only this workload can measure (traced run). */
  def layers(rec: Recorder): Map[String, Double]
  /** Per-layer metrics of layers this workload does not run; they read
    * 0, and every other metric must be measured. */
  def notMeasured: Set[String]
}

/** `batch`: one client runs the query slice in a seeded order per pass.
  * Each query is built through its registered definition and fully
  * materialized with a `noop` write; then its persisted intermediates
  * are released. */
final class Batch(o: Opts) extends Workload {
  import Batch._

  private var eng: Engine = _
  def spark: SparkSession = eng.spark
  private val defs = graft.SparkEntry.queries
  private lazy val expected: Map[String, Fingerprint] = Fingerprints.load(o)
  private var trackedPeak = 0
  private var leaked = 0
  /** RDDs Spark holds persisted right after the verification pass
    * released everything; each later release must come back to it. */
  private var heldBase = -1
  private val heldAfterPass = ArrayBuffer[Int]()
  private val builderNs = new java.util.concurrent.atomic.AtomicLong

  def setup(): Unit = eng = Engine.start(o, serve = false)
  def teardown(): Unit = eng.stop()

  /** Build and materialize one query: the seconds, or the failure. */
  private def materialize(name: String): Either[String, Double] = {
    val sc = spark.sparkContext
    Trace.op(s"client.$name") {
      val t0 = System.nanoTime()
      try {
        sc.setLocalProperty(ExecStats.PhaseKey, "build")
        val df = Trace.span("queries.build")(defs(name)(spark, o.data))
        if (Trace.on) builderNs.addAndGet(System.nanoTime() - t0)
        sc.setLocalProperty(ExecStats.PhaseKey, "write")
        Trace.span("exec.write")(df.write.format("noop").mode("overwrite").save())
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) => Left(s"$e")
      } finally sc.setLocalProperty(ExecStats.PhaseKey, null)
    }
  }

  /** Persisted RDDs Spark still holds (cache entries and checkpoints,
    * tracked or not). */
  private def held: Int = spark.sparkContext.getPersistentRDDs.size

  /** Release the query's intermediates. A leak is what the registry
    * still tracks plus what Spark holds beyond the post-verification
    * level. */
  private def release(): Unit = {
    trackedPeak = math.max(trackedPeak, Persist.trackedCount + Persist.trackedCheckpointCount)
    Trace.span("util.release")(Persist.releaseAll())
    val extra = if (heldBase < 0) 0 else math.max(0, held - heldBase)
    leaked = math.max(leaked, Persist.trackedCount + Persist.trackedCheckpointCount + extra)
  }

  private def order(pass: Int): Seq[String] = new Random(o.seed * 1000003L + pass).shuffle(Slice)

  /** Optimized plan of each query's `collect()`, for the plan guard. */
  private val collectPlans = scala.collection.mutable.Map[String, LogicalPlan]()

  /** Verification pass (also the warm-up): build each query, collect it
    * and compare the result with its committed fingerprint. */
  def prepare(rec: Recorder): Unit = order(0).foreach { name =>
    val t0 = System.nanoTime()
    val verdict = try {
      val df = defs(name)(spark, o.data)
      val (n, sha) = Canon.fingerprint(df.collect())
      collectPlans(name) = df.queryExecution.optimizedPlan
      expected.get(name) match {
        case None => Left(s"no committed fingerprint for ${o.dataName}")
        case Some(e) if e.rows != n || e.sha256 != sha =>
          Left(s"result $n rows ${sha.take(12)} != committed ${e.rows} rows ${e.sha256.take(12)}")
        case Some(e) => Right(e.rows)
      }
    } catch { case NonFatal(e) => Left(s"$e") }
    verdict match {
      case Right(rows) => rec.ok(name, (System.nanoTime() - t0) / 1e9, rows)
      case Left(why)   => rec.fail(name, why)
    }
    release()
    heldBase = held
  }

  /** Closed loop over whole seeded passes, at least [[MinPasses]] and
    * on until `seconds` have passed, so every query is measured equally
    * often. Each write's plan is checked against the collect plan once
    * the window is over. */
  def window(rec: Recorder, seconds: Double): Unit = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    PlanStats.capture = qe => qe.optimizedPlan.collectFirst {
      case w: V2WriteCommand => writes.add(w.query)
    }
    val done = ArrayBuffer[(String, Either[String, Double])]()
    rec.begin()
    val deadline = rec.startNs + (seconds * 1e9).toLong
    var pass = 1
    while (pass <= MinPasses || System.nanoTime() < deadline) {
      order(pass).foreach { name =>
        done += name -> materialize(name)
        release()
      }
      heldAfterPass += held
      pass += 1
    }
    rec.finish()
    ExecStats.barrier(spark.sparkContext)
    PlanStats.capture = null
    val written = writes.iterator()
    done.foreach {
      case (name, Right(secs)) =>
        val write = if (written.hasNext) Some(written.next()) else None
        (write, collectPlans.get(name)) match {
          case (Some(w), Some(c)) => guard(c, w) match {
            case Right(_)  => rec.ok(name, secs, expected.get(name).fold(0L)(_.rows))
            case Left(why) => rec.fail(name, why)
          }
          case _ => rec.fail(name, "plan guard: the write or the collect plan is missing")
        }
      case (name, Left(why)) => rec.fail(name, why)
    }
  }

  def finish(rec: Recorder): Unit = {
    println(s"persisted_rdds after_verification=$heldBase after_each_pass=${heldAfterPass.mkString(",")}")
    if (leaked > 0) rec.fail("persist", s"$leaked persisted intermediates survived release")
  }

  def layers(rec: Recorder): Map[String, Double] = Map(
    "queries.builder_s" -> builderNs.get / 1e9 / math.max(1, rec.latencies.size),
    "util.persist_tracked_peak" -> trackedPeak.toDouble,
    "util.persist_leaked" -> leaked.toDouble)

  def notMeasured: Set[String] = Set(
    "server.connect_ms", "server.overhead_ms", "server.write_inproc_ms",
    "server.first_row_ms", "server.encode_ns_per_cell", "server.bytes_per_row",
    "sources.client_fetch_s", "sources.decode_ns_per_cell", "sources.federated_s")
}

object Batch {
  /** The measured slice: one query of each family, covering q46's
    * guard, the vector kernels, a spatial join, builder-heavy dedup and
    * the catalog emulation. */
  val Slice: Seq[String] = Seq(
    "q46_part_affinity", "q50_funnel_conversion", "t34_dup_gram_mass",
    "d06_dedup_components", "v09_pq_adc_knn", "sp02_dwithin_pairs",
    "mm05_phash_dedup", "pg04_catalog_join")

  /** Three passes give every per-query median three samples, so one
    * slow pass does not move it. */
  val MinPasses = 3

  final case class Fingerprint(rows: Long, sha256: String)

  /** Whether the plan's root delivers sorted output. */
  def finalSort(plan: LogicalPlan): Boolean = plan match {
    case _: Sort             => true
    case p: Project          => finalSort(p.child)
    case f: Filter           => finalSort(f.child)
    case l: LocalLimit       => finalSort(l.child)
    case l: GlobalLimit      => finalSort(l.child)
    case a: SubqueryAlias    => finalSort(a.child)
    case _                   => false
  }

  /** Sorts, and operators that need an exchange when shuffled. */
  private def logicalShape(p: LogicalPlan): (Int, Int) = (
    p.collectWithSubqueries { case s: Sort => s }.size,
    p.collectWithSubqueries {
      case x @ (_: Aggregate | _: Join | _: Window | _: Repartition |
          _: RepartitionByExpression | _: Deduplicate | _: Distinct) => x
    }.size)

  /** The timed action must run what `collect()` runs. Both plans come
    * from the same optimizer, so the write's optimized query must equal
    * the collect's optimized plan; failing that, it must keep the final
    * Sort and every sort and exchange-bearing operator. */
  def guard(collect: LogicalPlan, write: LogicalPlan): Either[String, Unit] =
    if (collect.canonicalized == write.canonicalized) Right(())
    else {
      val ((cs, cx), (ws, wx)) = (logicalShape(collect), logicalShape(write))
      if (wx < cx) Left(s"plan guard: noop write has $wx exchange operators, collect $cx")
      else if (ws < cs || (finalSort(collect) && !finalSort(write)))
        Left(s"plan guard: noop write dropped a sort ($ws vs $cs)")
      else Right(())
    }

  /** Maintenance: compute fingerprints and plan shapes for the slice on
    * the given fixture and print them as one JSON object. */
  def fingerprints(o: Opts): Int = {
    val eng = Engine.start(o, serve = false)
    val spark = eng.spark
    val out = Slice.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, o.data)
      val (n, sha) = Canon.fingerprint(df.collect())
      // plan shapes with adaptive execution off: the planner's static
      // choice, identical on every run
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
      PlanStats.capture = captured.add(_)
      df.alias("noop").write.format("noop").mode("overwrite").save()
      ExecStats.barrier(spark.sparkContext)
      PlanStats.capture = null
      import scala.jdk.CollectionConverters._
      val write = PlanStats.shape(captured.asScala.flatMap(_.executedPlan.collectFirst {
        case w: V2TableWriteExec => w.query: SparkPlan
      }).last)
      val collect = PlanStats.shape(df.alias("collect").queryExecution.executedPlan)
      val count = PlanStats.shape(df.groupBy().count().queryExecution.executedPlan)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Persist.releaseAll()
      name -> scala.collection.immutable.ListMap(
        "rows" -> n, "sha256" -> sha,
        "collect_exchanges" -> collect.exchanges, "collect_sorts" -> collect.sorts,
        "noop_exchanges" -> write.exchanges, "noop_sorts" -> write.sorts,
        "count_exchanges" -> count.exchanges, "count_sorts" -> count.sorts)
    }
    println(Json(scala.collection.immutable.ListMap(out: _*)))
    eng.stop()
    0
  }

  /** Maintenance: write each slice result as parquet under `o.out`,
    * with the slice's oracle SQL, for an independent DuckDB comparison. */
  def dump(o: Opts): Int = {
    val eng = Engine.start(o, serve = false)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Slice.contains(k) }
    Slice.foreach { name =>
      graft.SparkEntry.queries(name)(eng.spark, o.data)
        .coalesce(1).write.mode("overwrite").parquet(s"${o.out}/$name")
      Persist.releaseAll()
    }
    val w = new java.io.PrintWriter(s"${o.out}/oracle_sql.json", "UTF-8")
    try w.println(Json(oracle)) finally w.close()
    eng.stop()
    0
  }
}

/** The committed result fingerprints (`fingerprints.json`). */
object Fingerprints {
  def load(o: Opts): Map[String, Batch.Fingerprint] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(o.fingerprints)), java.nio.charset.StandardCharsets.UTF_8)
    (JsonMethods.parse(text) \ o.dataName) match {
      case JObject(fields) => fields.collect { case (name, q: JObject) =>
        val rows = (q \ "rows") match { case JInt(n) => n.toLong; case _ => -1L }
        val sha = (q \ "sha256") match { case JString(s) => s; case _ => "" }
        name -> Batch.Fingerprint(rows, sha)
      }.toMap
      case _ => Map.empty
    }
  }
}
