package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: driver-side materialization (`collect`/`head`/
  * `toLocalIterator`/`executeToIterator`, and the physical-plan forms
  * `executeCollect`/`runJob`/`submitJob`) is the one pattern that
  * silently breaks the 100 TB posture — an operator that iterates a
  * collect is not distributed. Every current site is audited-bounded:
  *
  *  - PgServer: the collect that runs a command (empty result), in
  *    the simple and the extended protocol
  *  - PgWire: wire-protocol row rendering (the server's job; every
  *    result, simple-protocol (row-limited), extended or COPY, streams
  *    one partition at a time through `resultRows`)
  *  - SpatialJoinPlans: the broadcast spatial join's build side
  *  - InfoSchemaPlugin: catalog listings (metadata-sized)
  *  - SpatialJoin: the ≤10k KDB envelope sample + the 1-row global
  *    bounds aggregate
  *  - AnnIndex: the K-sized coarse-centroid id list
  *  - VectorOps: v34's k-means++ distributed-argmax top-1 rows
  *  - StreamingOps: the 11-bucket baseline histogram broadcast
  *  - Bench: JVM warm-up
  *
  * The spec freezes a PER-FILE budget of such sites. Adding one
  * anywhere fails the build until the new site is audited (bounded
  * output, not per-row work) and the budget line updated — the
  * automated form of the review sweep.
  *
  * A second case pins the one session factory: `SparkSession.builder`
  * appears in main code only inside `Graft.session`.
  */
class DriverMaterializationLintSpec extends AnyFunSuite {

  private val Pattern =
    ("""\.collect\(\)|collectAsList|\.head\(\)|\.toLocalIterator|\.executeToIterator""" +
      """|runJob\(|submitJob\(|executeCollect\(""").r

  /** file (relative to src/main/scala/graft) -> audited site count */
  private val Budget = Map(
    // the simple and extended protocols' command collects; their four
    // result-streaming toLocalIterator sites became PgWire.resultRows
    "server/PgServer.scala" -> 2,
    // resultRows: one runJob per partition, run as the client reads —
    // never a full driver materialization
    "server/PgWire.scala" -> 1,
    // the broadcast spatial join collects its build side, a side the
    // planner picks only when its size estimate is under the limit
    "plans/SpatialJoinPlans.scala" -> 1,
    // round 8: visibleTables' three catalog-listing collects moved from
    // InfoSchemaPlugin into the shared LiveCatalog (pg_class snapshot);
    // all remain metadata-sized listings
    "pg/InfoSchemaPlugin.scala" -> 2,
    "pg/LiveCatalog.scala" -> 3,
    // SpillSmoke: the 1-row fingerprint aggregate head()
    "SpillSmoke.scala" -> 1,
    "operators/SpatialJoin.scala" -> 3,
    // round 11: the opt-in pair-budget guard's two 1-row Σ-product
    // aggregates (equi-join + self-join forms) — bounded by definition
    "operators/PairBudget.scala" -> 2,
    "queries/VectorOps.scala" -> 2,
    "streaming/StreamingOps.scala" -> 1,
    "operators/AnnIndex.scala" -> 1,
    // round 11: + the fixed-work calibration probe — a 1-row sum over
    // range(), collected twice per bench run (start/end box-speed pin)
    "Bench.scala" -> 2)

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** (path relative to `root`, source text) of every main source file. */
  private def sources: Seq[(String, String)] = {
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }

  test("driver-side materialization stays within the audited per-file budget") {
    val counts = sources.map { case (rel, src) =>
      rel -> Pattern.findAllIn(src).size
    }.filter(_._2 > 0).toMap
    val over = counts.filter { case (f, n) => n > Budget.getOrElse(f, 0) }
    assert(over.isEmpty,
      s"unaudited driver-side materialization: ${over.mkString(", ")} " +
        s"(budget: ${Budget.mkString(", ")}) — audit the new site for " +
        "bounded output, then raise its budget entry")
    // and the budget itself can't go stale upward (deleted sites
    // should shrink the budget so it stays an exact audit record)
    val stale = Budget.filter { case (f, n) => counts.getOrElse(f, 0) < n }
    assert(stale.isEmpty, s"budget entries above actual counts: $stale")
  }

  test("only Graft builds a session: SparkSession.builder appears in no other main file") {
    // comments may name the builder (GraftExtensions' scaladoc does);
    // code may not — every main wires its session through Graft.session
    val Comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val builders = sources.collect {
      case (rel, src) if Comment.replaceAllIn(src, "").contains("SparkSession.builder") => rel
    }
    assert(builders == Seq("Graft.scala"), s"SparkSession.builder in code of: $builders")
  }
}
