package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt).
  * Whichever context generates code first sizes Spark's JVM-wide
  * codegen cache, so every context built in the tests applies
  * `Graft.CodegenCacheEntries` as `Graft.session` does. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(CodegenCacheKey, Graft.CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
}

abstract class GraftSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
