package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Memory-pressure spill smoke — the 100 TB posture's "Spark spills
  * natively" claim (the ➖ rows for the reference's QueryFairSpillPool /
  * build-side spill collector, memory_pool.rs:17-167,
  * build_side_collector.rs:127-200) exercised under a constrained heap
  * rather than assumed.
  *
  * Two passes over the heaviest registered queries at sf0.1:
  *
  *   1. `runMain graft.SpillSmoke baseline` — comfortable heap; records
  *      each query's order-independent result fingerprint (sum of
  *      per-row xxhash64 over the JSON-rendered row + row count).
  *   2. `SPARK_DRIVER_MEM=2g sbt "runMain graft.SpillSmoke constrained"`
  *      — tight heap + lowered spark.memory.fraction; asserts zero OOM,
  *      fingerprints equal to the baseline, and reports per-query spill
  *      bytes from stage task metrics. Writes SPILL_SMOKE.json.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SPILL_BASELINE (fingerprint file path),
  * SPARK_GRAFT_MEMORY_FRACTION (constrained pass, default 0.3),
  * SPARK_GRAFT_SPILL_QUERIES (override the query list),
  * SPARK_GRAFT_SPILL_SCALE_FACTOR (run against a ×N key-shifted
  * replica — ScaleSmoke's synthesizer — instead of the base tables, so
  * the graph/sketch legs actually EXCEED the constrained budget and
  * exercise the spill paths rather than merely fitting; round-8 verdict:
  * one spilling query proves "runs small", not "spills correctly"),
  * SPARK_GRAFT_SPILL_SCALE_DIR (replica location).
  */
object SpillSmoke {

  /** The sf0.1 bench tail (round-7 top-10 by wall time). */
  private val DefaultQueries = Seq(
    "d21_corpus_funnel", "v35_all_but_the_top", "d06_dedup_components",
    "d08_pagerank_graph", "d24_kcore_decomposition", "q79_rfm_segments",
    "q46_part_affinity", "v36_rocchio_prf", "sp07_dbscan_clusters",
    "d12_leakfree_split")

  /** Spill bytes accumulated from completed stages. */
  private final class SpillListener extends SparkListener {
    val memory = new java.util.concurrent.atomic.AtomicLong()
    val disk = new java.util.concurrent.atomic.AtomicLong()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        memory.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("constrained")
    require(mode == "baseline" || mode == "constrained",
      s"mode must be baseline|constrained, got $mode")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_SPILL_BASELINE",
      "/tmp/graft_spill_baseline.txt")
    val queries = sys.env.get("SPARK_GRAFT_SPILL_QUERIES")
      .map(_.split("\\s+").toSeq).getOrElse(DefaultQueries)
    val fraction =
      sys.env.getOrElse("SPARK_GRAFT_MEMORY_FRACTION", "0.3")
    // tight unified-memory region forces the hash/sort/join operators
    // onto their spill paths without starving user/JVM memory entirely;
    // a static conf, so it goes in as a spark.* system property, which
    // the session's SparkConf reads at construction
    if (mode == "constrained") sys.props("spark.memory.fraction") = fraction
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")
    val memoryFraction =
      spark.sparkContext.getConf.get("spark.memory.fraction", "default")
    // ×N replica mode: synthesize (or reuse — the marker file makes it
    // idempotent, so the comfortable-heap baseline pass pays the build)
    // and measure against it
    val scaleFactor = sys.env.get("SPARK_GRAFT_SPILL_SCALE_FACTOR").map(_.toInt)
    val dataDir = scaleFactor.fold(sfDir) { f =>
      val dir = sys.env.getOrElse("SPARK_GRAFT_SPILL_SCALE_DIR",
        s"/tmp/graft_spill_scale_x$f")
      ScaleSmoke.synthesize(spark, sfDir, dir, f)
      dir
    }
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)

    /** Order-independent fingerprint: (sum of per-row hash residues, n).
      * Residues mod a prime keep the sum overflow-safe under ANSI mode
      * up to ~9e10 rows while staying sensitive to any value change. */
    def fingerprint(name: String): (Long, Long) = {
      val df = SparkEntry.queries(name)(spark, dataDir)
      val r = df
        .select(pmod(
          xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*))),
          lit(100000007L)).as("h"))
        .agg(sum(col("h")), count(lit(1))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }

    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val results = queries.map { q =>
      val (m0, d0) = (listener.memory.get(), listener.disk.get())
      val t0 = System.nanoTime()
      val outcome =
        try Right(fingerprint(q))
        catch { case e: Throwable => Left(e.toString.take(300)) }
        finally graft.util.Persist.releaseAll()
      val secs = (System.nanoTime() - t0) / 1e9
      val spillMem = listener.memory.get() - m0
      val spillDisk = listener.disk.get() - d0
      println(s"""{"query":"$q","mode":"$mode","secs":${d3(secs)},"spill_mem":$spillMem,"spill_disk":$spillDisk,"ok":${outcome.isRight}}""")
      (q, outcome, secs, spillMem, spillDisk)
    }

    if (mode == "baseline") {
      val lines = results.map {
        case (q, Right((h, n)), _, _, _) => s"$q $h $n"
        case (q, Left(err), _, _, _) =>
          sys.error(s"baseline pass must be clean; $q failed: $err")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(baselinePath),
        (lines.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"""{"metric":"spill_baseline","n":${results.size},"heap_mb":$heapMb}""")
    } else {
      val baseline = scala.io.Source.fromFile(baselinePath).getLines()
        .map(_.split(" ")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
      val rows = results.map { case (q, outcome, secs, sm, sd) =>
        val verdict = outcome match {
          case Left(err) => s""""error","detail":${jsonStr(err)}"""
          case Right(fp) => baseline.get(q) match {
            case None => """"no_baseline""""
            case Some(b) if b == fp => """"ok""""
            case Some(b) =>
              s""""hash_mismatch","detail":"base=$b got=$fp""""
          }
        }
        s""""$q":{"verdict":$verdict,"secs":${d3(secs)},"spill_mem_bytes":$sm,"spill_disk_bytes":$sd}"""
      }
      val allOk = results.forall { case (q, o, _, _, _) =>
        o.isRight && baseline.get(q).contains(o.toOption.get)
      }
      val totalDisk = results.map(_._5).sum
      val json =
        s"""{"heap_mb":$heapMb,"memory_fraction":"$memoryFraction","cpus":$cpus,"sf_dir":"$dataDir","scale_factor":${scaleFactor.getOrElse(1)},"all_match":$allOk,"total_spill_disk_bytes":$totalDisk,"queries":{${rows.mkString(",")}}}\n"""
      java.nio.file.Files.write(java.nio.file.Paths.get("SPILL_SMOKE.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"""{"metric":"spill_smoke","n":${results.size},"all_match":$allOk,"total_spill_disk_bytes":$totalDisk,"heap_mb":$heapMb,"memory_fraction":"$memoryFraction"}""")
    }
    spark.stop()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
