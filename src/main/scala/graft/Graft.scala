package graft

import org.apache.spark.sql.SparkSession

/** Public entry point — one call wires the whole library onto a
  * session, the analogue of the reference's `QueryContext::new`
  * bootstrap (/root/reference/src/core/src/context.rs:31-68).
  *
  * {{{
  * val spark = Graft.session()              // new local session, fully wired
  * Graft.install(existing)                  // or: wire an existing session
  * spark.sql("SELECT st_area(st_makeenvelope(0,0,2,2))")
  * spark.sql("SELECT * FROM pg_catalog.pg_type")
  * }}}
  *
  * Parser shims, the spatial-join planner strategy and the analyzer
  * rule that answers `pg_catalog` / `information_schema` reads live in
  * [[graft.plans.GraftExtensions]] and must be given at build time
  * (`withExtensions`), which [[session]] does; [[install]] covers
  * everything conf- and registry-based (functions, catalogs, compat
  * UDFs) for sessions built elsewhere. Catalog tables, bare or
  * qualified, are read only on a session with the extensions: on a
  * session wired by [[install]] alone, `pg_catalog.*` resolves but its
  * read fails at analysis.
  *
  * Spark caches generated classes (whole-stage codegen, projections,
  * orderings) JVM-wide, in a cache sized by the first context that
  * generates code. [[session]] sizes it to [[CodegenCacheEntries]]; a
  * context built elsewhere and wired with [[install]] keeps Spark's
  * 100 entries, and every pass over more plans than that recompiles.
  */
object Graft {

  /** `spark.sql.codegen.cache.maxEntries` for sessions built here: the
    * smallest power of two above the ~3,440 distinct generated classes
    * of one pass over every registered query. Spark reads it once, when
    * the first context generates code, so it goes on the builder. */
  val CodegenCacheEntries: Int = 4096

  /** Register every function, catalog, and compat surface on an
    * existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    graft.spatial.SpatialFunctions.registerAll(spark)
    graft.spatial.GeoStatsAgg.register(spark)
    graft.functions.SketchFunctions.registerAll(spark)
    graft.pg.PgCompat.registerAll(spark)
  }

  /** Build a fully wired local session (extensions + registrations).
    * `master` defaults to all cores; shuffle partitions default to the
    * parallelism rather than Spark's 200. */
  def session(master: String = "local[*]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .withExtensions(new graft.plans.GraftExtensions)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n))
    val spark = b.getOrCreate()
    if (shufflePartitions.isEmpty)
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism)
    install(spark)
    spark
  }

  /** Start the PostgreSQL wire front end on `port` (0 = ephemeral);
    * returns the bound port. */
  def serve(spark: SparkSession, port: Int = 5432): Int =
    new graft.server.PgServer(spark, port).start()
}
