package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark keeps generated classes in one JVM-wide cache, sized by the
  * first context that generates code. `Graft.session` (and the test
  * contexts) size it to `Graft.CodegenCacheEntries`, so a pass over
  * more distinct plans than Spark's default of 100 entries compiles
  * each class once: a warm pass compiles nothing. */
class CodegenCacheSpec extends GraftSuite {

  test("Graft.session sets the codegen cache size on its context") {
    assert(Graft.session().conf.get(SparkTestBase.CodegenCacheKey) ==
      Graft.CodegenCacheEntries.toString)
  }

  test("a second round over 150 distinct generated projections compiles nothing") {
    // each literal is inlined into its own whole-stage class; the offset
    // keeps them apart from any class another suite compiled
    val queries = (1 to 150).map(k => s"SELECT id + ${7000000 + k} FROM range(10)")
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      queries.foreach(q => assert(spark.sql(q).collect().length == 10, q))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles() >= queries.size)
    assert(compiles() == 0)
  }
}
