package graft.spatial

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Per-column geometry statistics aggregator (reference A20:
  * GeoStatistics / AnalyzeAccumulator, spatial/src/statistics.rs:19-145
  * + geometry/analyze.rs:25-130): global bbox, geometry/point/empty
  * counts — the stats that feed spatial partitioning and execution-mode
  * selection. Distributed as a typed Aggregator: per-partition partial
  * merge, tiny driver-side final value.
  */
final case class GeoStats(
    xmin: Double, ymin: Double, xmax: Double, ymax: Double,
    n_geoms: Long, n_points: Long, n_empty: Long) {

  def mergeWith(o: GeoStats): GeoStats = GeoStats(
    math.min(xmin, o.xmin), math.min(ymin, o.ymin),
    math.max(xmax, o.xmax), math.max(ymax, o.ymax),
    n_geoms + o.n_geoms, n_points + o.n_points, n_empty + o.n_empty)

  /** mean vertices per non-empty geometry (reference mode selector). */
  def meanPointsPerGeom: Double =
    if (n_geoms - n_empty == 0) 0.0 else n_points.toDouble / (n_geoms - n_empty)
}

object GeoStats {
  val empty: GeoStats = GeoStats(
    Double.PositiveInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.NegativeInfinity, 0L, 0L, 0L)
}

object GeoStatsAgg extends Aggregator[Array[Byte], GeoStats, GeoStats] {

  override def zero: GeoStats = GeoStats.empty

  override def reduce(b: GeoStats, wkb: Array[Byte]): GeoStats = {
    val g = Geo.fromWkb(wkb)
    if (g == null) b
    else if (g.isEmpty)
      b.copy(n_geoms = b.n_geoms + 1, n_empty = b.n_empty + 1)
    else {
      val e = g.getEnvelopeInternal
      GeoStats(
        math.min(b.xmin, e.getMinX), math.min(b.ymin, e.getMinY),
        math.max(b.xmax, e.getMaxX), math.max(b.ymax, e.getMaxY),
        b.n_geoms + 1, b.n_points + g.getNumPoints, b.n_empty)
    }
  }

  override def merge(a: GeoStats, b: GeoStats): GeoStats = a.mergeWith(b)
  override def finish(r: GeoStats): GeoStats = r
  override def bufferEncoder: Encoder[GeoStats] = Encoders.product[GeoStats]
  override def outputEncoder: Encoder[GeoStats] = Encoders.product[GeoStats]

  /** Register as the SQL aggregate `geo_stats(geom)`; idempotent, so a
    * session `Graft.install` already set up logs no "replaced a
    * previously registered function" warning. */
  def register(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("geo_stats")))
      spark.udf.register("geo_stats", udaf(GeoStatsAgg))
}
