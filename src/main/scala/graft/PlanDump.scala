package graft

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the plan-evidence artifacts the optimization rounds commit under
  * plans/rNN/ (judge-checkable without running Spark).
  *
  * Env: SPARK_GRAFT_PLAN_QUERIES (space-separated names, or "all"),
  * SPARK_GRAFT_PLAN_OUT (output dir, default plans/tmp),
  * SPARK_GRAFT_PLAN_SUFFIX (e.g. "_before" / "_after", default ""),
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/tmp")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val qs: Seq[String] = sys.env.get("SPARK_GRAFT_PLAN_QUERIES") match {
      case Some("all") | None => SparkEntry.queries.keys.toSeq.sorted
      case Some(s)            => s.split("\\s+").toSeq.filter(_.nonEmpty)
    }
    val spark = Graft.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qs.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir) // build (incl. any eager loop stages)
        val t1 = System.nanoTime()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) // analyze+optimize+plan
        val t2 = System.nanoTime()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(f"dumped $name build=${(t1 - t0) / 1e9}%.2fs plan=${(t2 - t1) / 1e9}%.2fs")
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      } finally graft.util.Persist.releaseAll()
    }
    spark.stop()
  }
}
