package perfbench

import scala.collection.immutable.ListMap

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * One run: set the engine up `--setups` times (the median is
  * `setup_s`), prepare and verify, then measure one closed-loop window
  * of `--seconds` with tracing off. With `--trace 1` a second, traced
  * window follows and the per-layer metrics, the span file and the
  * tracing overhead are reported instead. The last stdout line is the
  * result object.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "total_s" -> "s", "geomean_ms" -> "ms",
    "rows_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "queries.builder_s" -> "s", "queries.eager_jobs" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.exchanges" -> "count", "plans.sorts" -> "count", "plans.windows" -> "count",
    "plans.broadcasts" -> "count", "functions.codegen_fallback_exprs" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.parallelism" -> "ratio", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.shuffle_fetch_wait_s" -> "s",
    "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB",
    "exec.rows_scanned_per_row_returned" -> "ratio",
    "util.persist_tracked_peak" -> "count", "util.persist_leaked" -> "count",
    "pg.catalog_inproc_ms" -> "ms",
    "server.connect_ms" -> "ms", "server.overhead_ms" -> "ms", "server.write_inproc_ms" -> "ms",
    "server.first_row_ms" -> "ms",
    "server.encode_ns_per_cell" -> "ns", "server.bytes_per_row" -> "B",
    "sources.client_fetch_s" -> "s", "sources.decode_ns_per_cell" -> "ns",
    "sources.federated_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "box.probe_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    // every session (the host's and each wire connection's) gets the
    // plan listener; it only counts while a traced window runs
    System.setProperty("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val code =
      try o.mode match {
        case "run"          => run(o)
        case "fingerprints" => Batch.fingerprints(o)
        case "dump"         => Batch.dump(o)
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  /** Every option is required: run.py is the one place that sets them. */
  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = arg("workload"),
      seed = arg("seed").toLong,
      seconds = arg("seconds").toDouble,
      trace = arg("trace") == "1",
      data = arg("data"),
      fingerprints = arg("fingerprints"),
      spansDir = arg("spans"),
      cores = arg("cores").toInt,
      setups = arg("setups").toInt,
      injectMalformed = arg("inject-malformed") == "1",
      mode = arg("mode"),
      out = m.getOrElse("out", ""))
  }

  private def workload(o: Opts): Workload = o.workload match {
    case "batch"      => new Batch(o)
    case "wire_short" => new WireShort(o)
    case "wire_bulk"  => new WireBulk(o)
    case other        => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The existing calibration probe: fixed CPU-bound work, diagnostic
    * only, never used to normalize a metric. */
  private def probe(w: Workload): Double = {
    val t0 = System.nanoTime()
    w.spark.sql("SELECT bit_xor(xxhash64(id * 2654435761)) FROM range(0, 1000000000, 1, 32)")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def run(o: Opts): Int = {
    val w = workload(o)
    val setups = (1 to o.setups).map { i =>
      val t0 = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < o.setups) w.teardown()
      s
    }
    val sc = w.spark.sparkContext
    val prep = new Recorder
    val p0 = System.nanoTime()
    w.prepare(prep)
    println(s"setups_s ${Json(setups)} prepare_s ${(System.nanoTime() - p0) / 1e9}")
    val rec = new Recorder
    w.window(rec, o.seconds)
    val e2e = rec.endToEnd ++ Map(
      "setup_s" -> Stats.median(setups), "peak_rss_mb" -> Engine.peakRssMb)
    report("untraced", rec, e2e)

    var traced: Option[Recorder] = None
    var metrics: Seq[(String, String, Double)] =
      EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
    if (o.trace) {
      val probeStart = probe(w)
      ExecStats.barrier(sc)
      JvmStats.begin()
      Trace.on = true; PlanStats.on = true; ExecStats.on = true
      val trec = new Recorder
      w.window(trec, o.seconds)
      ExecStats.barrier(sc)
      Trace.on = false; PlanStats.on = false; ExecStats.on = false
      val jvm = Map("jvm.gc_s" -> JvmStats.gcSeconds, "jvm.heap_peak_mb" -> JvmStats.heapPeakMb)
      val extra = w.layers(trec)
      val probeEnd = probe(w)
      val traced2e = trec.endToEnd
      report("traced", trec, traced2e)
      println("trace_overhead " + Json(ListMap(traced2e.keys.toSeq.sorted.map(k =>
        k -> (traced2e(k) - e2e(k))): _*)))
      println(f"box.probe_s start=$probeStart%.3f end=$probeEnd%.3f")
      val spansFile = new java.io.File(o.spansDir, s"${o.workload}-seed${o.seed}.jsonl")
      val spans = Trace.write(spansFile)
      println(s"spans ${spans.size} written to $spansFile")
      println("layer_self_s " + Json(ListMap(Trace.layerSelfSeconds(spans).toSeq.sortBy(_._1): _*)))
      val layer = common(trec, o) ++ jvm ++ extra ++ Map(
        "box.probe_s" -> (probeStart + probeEnd) / 2,
        "pg.catalog_inproc_ms" -> catalogInprocMs(w.spark))
      metrics = PerLayer.map { case (n, u) => (n, u, perLayer(w, layer, n)) }
      traced = Some(trec)
    }
    w.finish(rec)
    val recs = Seq(prep, rec) ++ traced
    val attempted = recs.map(_.attempted.get).sum
    val failed = recs.map(_.failed.get).sum
    recs.flatMap(_.failures).take(10).foreach(f => println(s"failure $f"))
    val errorRate = failed.toDouble / math.max(1L, attempted)
    println(f"error_rate $errorRate%.6f ($failed of $attempted)")
    println("end_to_end_named " + Json(ListMap(named(o, rec, e2e, errorRate).map {
      case (n, u, v) => n -> ListMap("value" -> v, "unit" -> u) }: _*)))
    w.teardown()
    metrics.collectFirst { case (n, _, v) if v.isNaN || v.isInfinite =>
      throw new IllegalStateException(s"$n is not a finite number: $v")
    }
    println(Json(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, u, v) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*))))
    0
  }

  /** A per-layer metric as the workload measured it. One the workload
    * declares it has no layer for reads 0; any other missing or
    * non-finite value is an error, so a metric cannot be dropped
    * silently. */
  private def perLayer(w: Workload, layer: Map[String, Double], name: String): Double =
    (layer.get(name), w.notMeasured(name)) match {
      case (Some(v), false) if !v.isNaN && !v.isInfinite => v
      case (None, true)  => 0.0
      case (Some(v), true) =>
        throw new IllegalStateException(s"$name is declared not measured but reads $v")
      case (v, _) => throw new IllegalStateException(s"$name was not measured (${v.orNull})")
    }

  /** The untraced window's end-to-end figures under the names the
    * benchmark's documentation gives them (`<workload>.<metric>` for the
    * workload's own), each with its unit. */
  private def named(o: Opts, rec: Recorder, e2e: Map[String, Double],
      errorRate: Double): Seq[(String, String, Double)] = {
    def classMs(c: String) = rec.classSummary.get(c).fold(Double.NaN)(_("p50_ms"))
    val own = o.workload match {
      case "batch" => Seq(
        ("total_s", "s", e2e("total_s")), ("geomean_s", "s", e2e("geomean_ms") / 1000))
      case "wire_short" => Seq(
        ("ops_per_s", "1/s", e2e("ops_per_s")), ("p50_ms", "ms", e2e("p50_ms")),
        ("p99_ms", "ms", e2e("p99_ms")), ("write_p50_ms", "ms", classMs("insert")))
      case _ => Seq(
        ("rows_per_s", "1/s", e2e("rows_per_s")), ("federated_s", "s", classMs("federated") / 1000))
    }
    Seq(("setup_s", "s", e2e("setup_s")), ("peak_rss_mb", "MB", e2e("peak_rss_mb")),
      ("error_rate", "ratio", errorRate)) ++
      own.map { case (n, u, v) => (s"${o.workload}.$n", u, v) }
  }

  /** In-process median of a `pg_catalog` join (the emulated catalogs
    * every wire client's introspection reads). */
  private def catalogInprocMs(spark: org.apache.spark.sql.SparkSession): Double =
    Stats.median((1 to 5).map { _ =>
      val t = System.nanoTime()
      spark.sql("SELECT t.oid, t.typname, n.nspname FROM pg_catalog.pg_type t " +
        "JOIN pg_catalog.pg_namespace n ON t.typnamespace = n.oid " +
        "WHERE t.typname = 'int4'").collect()
      (System.nanoTime() - t) / 1e6
    })

  /** Human-readable window summary (not the result line). */
  private def report(label: String, rec: Recorder, e2e: Map[String, Double]): Unit = {
    println(s"$label window: ${rec.latencies.size} ops in ${"%.2f".format(rec.wallS)} s, " +
      s"${rec.failed.get} failed")
    println(s"$label classes " + Json(ListMap(rec.classSummary.toSeq.sortBy(_._1): _*)))
    println(s"$label end_to_end " + Json(ListMap(e2e.toSeq.sortBy(_._1): _*)))
  }

  /** Per-layer metrics every workload measures the same way, per
    * operation of the traced window. */
  private def common(rec: Recorder, o: Opts): Map[String, Double] = {
    val ops = math.max(1, rec.latencies.size).toDouble
    val mb = 1048576.0
    val runS = ExecStats.runMs.get / 1000.0
    Map(
      "queries.eager_jobs" -> ExecStats.eagerJobs.get / ops,
      "plans.analysis_ms" -> PlanStats.analysisMs.get / ops,
      "plans.optimization_ms" -> PlanStats.optimizationMs.get / ops,
      "plans.planning_ms" -> PlanStats.planningMs.get / ops,
      "plans.exchanges" -> PlanStats.exchanges.get / ops,
      "plans.sorts" -> PlanStats.sorts.get / ops,
      "plans.windows" -> PlanStats.windows.get / ops,
      "plans.broadcasts" -> PlanStats.broadcasts.get / ops,
      "functions.codegen_fallback_exprs" -> PlanStats.fallbacks.get / ops,
      "exec.jobs" -> ExecStats.jobs.get / ops,
      "exec.stages" -> ExecStats.stages.get / ops,
      "exec.tasks" -> ExecStats.tasks.get / ops,
      "exec.task_run_s" -> runS / ops,
      "exec.task_cpu_s" -> ExecStats.cpuNs.get / 1e9 / ops,
      "exec.gc_s" -> ExecStats.gcMs.get / 1000.0 / ops,
      "exec.parallelism" -> runS / (rec.wallS * o.cores),
      "exec.shuffle_write_mb" -> ExecStats.shuffleWrite.get / mb / ops,
      "exec.shuffle_read_mb" -> ExecStats.shuffleRead.get / mb / ops,
      "exec.shuffle_fetch_wait_s" -> ExecStats.fetchWaitMs.get / 1000.0 / ops,
      "exec.spill_mb" -> ExecStats.spill.get / mb / ops,
      "exec.peak_exec_mem_mb" -> ExecStats.peakExecMem.get / mb,
      "exec.rows_scanned_per_row_returned" ->
        ExecStats.recordsRead.get.toDouble / math.max(1L, rec.rows.get))
  }
}
