package graft.spatial

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.types._

import org.locationtech.jts.algorithm.hull.ConcaveHull
import org.locationtech.jts.geom.{Geometry => _, _}
import org.locationtech.jts.geom.{Geometry => JtsGeometry}
import org.locationtech.jts.linearref.LengthIndexedLine
import org.locationtech.jts.operation.buffer.BufferOp
import org.locationtech.jts.operation.polygonize.Polygonizer
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier, VWSimplifier}

/** The ~55 `ST_*` scalar functions of the reference's spatial extension
  * (/root/reference/src/datafusion-extra/spatial/src/function/udfs.rs:
  * 11-472), re-expressed over JTS on EWKB BinaryType columns.
  *
  * Registration goes through the Catalyst FunctionRegistry with an
  * arity-dispatching builder (the Spark equivalent of the reference's
  * `Signature::one_of` overloads — udf-macros codegen.rs), so SQL can
  * call e.g. both ST_Buffer(g, d) and ST_Buffer(g, d, segs).
  */
object SpatialFunctions extends Serializable {

  /** Registered function names whose RESULT is a geometry (EWKB
    * BinaryType) — the tag set PgServer uses to report the `geometry`
    * oid (pg_type 16385) and hex-EWKB text on the wire instead of
    * bytea, the PG analogue of the reference's Arrow "Geometry"
    * extension type (spatial/src/extension.rs:1-9). Accessors and
    * predicates (st_area, st_intersects, ...) are deliberately absent:
    * they consume geometry but produce scalars. */
  val geometryProducers: Set[String] = Set(
    "st_centroid", "st_convexhull", "st_envelope", "st_boundary",
    "st_makevalid", "st_buildarea", "st_normalize", "st_pointonsurface",
    "st_reverse", "st_intersection", "st_difference", "st_symdifference",
    "st_union", "st_split", "st_buffer", "st_simplify",
    "st_simplifypreservetopology", "st_simplifyvw", "st_setsrid",
    "st_translate", "st_concavehull", "st_makepoint", "st_point",
    "st_makeenvelope", "st_tileenvelope", "st_geomfromtext",
    "st_geometryfromtext", "st_geomfromewkt", "st_geomfromwkb",
    "st_geomfromewkb", "st_geomfromgeojson", "st_transform",
    "st_asmvtgeom")

  /** JTS Geometry (spark.sql.types also exports a `Geometry` in 4.1). */
  private type Geometry = JtsGeometry

  // ---- runtime arg coercion (registry UDFs see raw literal types) ----
  private def g(a: Any): Geometry = Geo.fromWkb(a.asInstanceOf[Array[Byte]])
  private def w(geom: Geometry): Array[Byte] = Geo.toWkb(geom)
  private def asD(x: Any): Double = x match {
    case null                    => Double.NaN
    case d: java.lang.Double     => d
    case f: java.lang.Float      => f.toDouble
    case i: java.lang.Integer    => i.toDouble
    case l: java.lang.Long       => l.toDouble
    case s: java.lang.Short      => s.toDouble
    case b: java.math.BigDecimal => b.doubleValue
    case b: BigDecimal           => b.doubleValue
    case o                       => o.toString.toDouble
  }
  private def asI(x: Any): Int = x match {
    case i: java.lang.Integer => i
    case l: java.lang.Long    => l.toInt
    case o                    => asD(o).toInt
  }
  private def asB(x: Any): Boolean = x match {
    case b: java.lang.Boolean => b
    case o                    => o.toString.toBoolean
  }

  private val box2dType = StructType(Seq(
    StructField("xmin", DoubleType), StructField("ymin", DoubleType),
    StructField("xmax", DoubleType), StructField("ymax", DoubleType)))

  /** All function registrations: name -> (arity -> (returnType, fn)). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // idempotent: repeated registration only spams "function replaced"
    // warnings into server/bench logs
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("st_bbox_intersects"))) return
    // Spark 4.1 ships some st_* names as builtins (st_srid, st_setsrid,
    // st_geomfromwkb); drop the session's entry before registering over
    // it, so the override logs no "replaced a previously registered
    // function" warning on every new session
    def put(name: String, builder: Seq[Expression] => Expression,
        source: String): Unit = {
      reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      reg.createOrReplaceTempFunction(name, builder, source)
    }

    def add(name: String)(cases: (Int, (DataType, AnyRef))*): Unit = {
      val byArity = cases.toMap
      val builder = (children: Seq[Expression]) => {
        val (dt, fn) = byArity.getOrElse(children.size,
          throw new IllegalArgumentException(
            s"$name: unsupported argument count ${children.size} " +
              s"(expected one of ${byArity.keys.toSeq.sorted.mkString("/")})"))
        ScalaUDF(fn, dt, children, children.map(_ => None),
          udfName = Some(name), nullable = true, udfDeterministic = true)
      }
      put(name, builder, "scala_udf")
    }

    // null-safe wrappers
    def f1(dt: DataType)(f: Geometry => Any): (Int, (DataType, AnyRef)) =
      1 -> (dt, ((a: Any) => { val x = g(a); if (x == null) null else f(x) }): AnyRef)
    def f2(dt: DataType)(f: (Geometry, Geometry) => Any): (Int, (DataType, AnyRef)) =
      2 -> (dt, ((a: Any, b: Any) => {
        val x = g(a); val y = g(b)
        if (x == null || y == null) null else f(x, y)
      }): AnyRef)

    def geom1(f: Geometry => Geometry): (Int, (DataType, AnyRef)) =
      f1(BinaryType)(x => w(Geo.keepSrid(f(x), x)))
    def geom2(f: (Geometry, Geometry) => Geometry): (Int, (DataType, AnyRef)) =
      f2(BinaryType)((x, y) => w(Geo.keepSrid(f(x, y), x)))

    // ---- accessors (udfs.rs:11-166) ----
    // scalar accessors ride native Catalyst expressions (StScalarExpr):
    // the round-9 same-JVM A/B (COVERAGE_HISTORY.md, row A21-A27) puts
    // the ScalaUDF wrapper at ~5% of st_area's per-row cost — the win is structural: accessor filters
    // stay inside one whole-stage-codegen span instead of splitting it
    def addScalar(name: String): Unit =
      put(name, (children: Seq[Expression]) => {
        require(children.size == 1, s"$name expects 1 argument")
        StScalarExpr(name, children.head)
      }, "built-in")
    Seq("st_area", "st_length", "st_x", "st_y", "st_xmin", "st_xmax",
      "st_ymin", "st_ymax", "st_isempty", "st_isvalid", "st_npoints",
      "st_numpoints", "st_srid").foreach(addScalar)
    add("st_astext")(f1(StringType)(Geo.toWkt))
    add("st_asewkt")(f1(StringType)(Geo.toEwkt))
    add("st_asgeojson")(f1(StringType)(Geo.toGeoJson))
    add("st_geometrytype")(f1(StringType)(Geo.st_typeName))
    add("st_box2d")(f1(box2dType) { x =>
      if (x.isEmpty) null
      else {
        val e = x.getEnvelopeInternal
        Row(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      }
    })

    // ---- unary constructive (udfs.rs:11-166) ----
    add("st_centroid")(geom1(_.getCentroid))
    add("st_convexhull")(geom1(_.convexHull))
    add("st_envelope")(geom1(Geo.envelopeCcw))
    add("st_boundary")(geom1(_.getBoundary))
    add("st_makevalid")(geom1(Geo.makeValid))
    add("st_buildarea")(geom1(buildArea))
    add("st_normalize")(geom1 { x => val c = x.copy(); c.normalize(); c })
    add("st_pointonsurface")(geom1(_.getInteriorPoint))
    add("st_reverse")(geom1(_.reverse))

    // ---- binary predicates (udfs.rs:168-246) ----
    // registered as native Catalyst expressions (whole-stage codegen,
    // envelope short-circuit) rather than ScalaUDFs — see StPredicateExpr
    def addPred(regName: String, predName: String): Unit =
      put(regName, (children: Seq[Expression]) => {
        require(children.size == 2, s"$regName expects 2 arguments")
        StPredicateExpr(predName, children.head, children(1))
      }, "built-in")
    Seq("st_contains", "st_intersects", "st_within", "st_equals", "st_covers",
      "st_coveredby", "st_touches", "st_overlaps", "st_crosses",
      "st_bbox_intersects").foreach(n => addPred(n, n))
    // reference registers the bare name too (udfs.rs: BBox_Intersects)
    addPred("bbox_intersects", "st_bbox_intersects")
    add("box2d")(f1(box2dType) { x =>
      if (x.isEmpty) null
      else {
        val e = x.getEnvelopeInternal
        Row(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      }
    })

    // ---- binary constructive (udfs.rs:248-314) ----
    // st_distance is a native node so distance-comparison join shapes
    // match it structurally (SpatialJoinPlans.extract)
    put("st_distance", (children: Seq[Expression]) => {
      require(children.size == 2, "st_distance expects 2 arguments")
      StDistanceExpr(children.head, children(1))
    }, "built-in")
    add("st_intersection")(geom2(_.intersection(_)))
    add("st_difference")(geom2(_.difference(_)))
    add("st_symdifference")(geom2(_.symDifference(_)))
    add("st_union")(geom2(_.union(_)))
    add("st_split")(geom2(split))

    // ---- parameterized (udfs.rs:316-402) ----
    add("st_buffer")(
      2 -> (BinaryType, ((a: Any, d: Any) => {
        val x = g(a); if (x == null) null else w(Geo.keepSrid(x.buffer(asD(d)), x))
      }): AnyRef),
      3 -> (BinaryType, ((a: Any, d: Any, s: Any) => {
        val x = g(a)
        if (x == null) null
        else w(Geo.keepSrid(BufferOp.bufferOp(x, asD(d), asI(s)), x))
      }): AnyRef))
    add("st_simplify")(
      2 -> (BinaryType, ((a: Any, t: Any) => {
        val x = g(a)
        if (x == null) null
        else w(Geo.keepSrid(DouglasPeuckerSimplifier.simplify(x, asD(t)), x))
      }): AnyRef))
    add("st_simplifypreservetopology")(
      2 -> (BinaryType, ((a: Any, t: Any) => {
        val x = g(a)
        if (x == null) null
        else w(Geo.keepSrid(TopologyPreservingSimplifier.simplify(x, asD(t)), x))
      }): AnyRef))
    add("st_simplifyvw")(
      2 -> (BinaryType, ((a: Any, t: Any) => {
        val x = g(a)
        if (x == null) null
        // the reference's epsilon is a triangle AREA (geo crate
        // simplify_vw); JTS takes a distance whose square is the area.
        else w(Geo.keepSrid(VWSimplifier.simplify(x, math.sqrt(asD(t))), x))
      }): AnyRef))
    add("st_setsrid")(
      2 -> (BinaryType, ((a: Any, srid: Any) => {
        val x = g(a)
        if (x == null) null else { x.setSRID(asI(srid)); w(x) }
      }): AnyRef))
    add("st_dwithin")(
      3 -> (BooleanType, ((a: Any, b: Any, d: Any) => {
        val x = g(a); val y = g(b)
        if (x == null || y == null) null else x.isWithinDistance(y, asD(d))
      }): AnyRef))
    add("st_translate")(
      3 -> (BinaryType, ((a: Any, dx: Any, dy: Any) => {
        val x = g(a)
        if (x == null) null else w(Geo.translate(x, asD(dx), asD(dy)))
      }): AnyRef))
    add("st_concavehull")(
      2 -> (BinaryType, ((a: Any, r: Any) => {
        val x = g(a)
        if (x == null) null
        else w(Geo.keepSrid(ConcaveHull.concaveHullByLengthRatio(x, asD(r)), x))
      }): AnyRef),
      3 -> (BinaryType, ((a: Any, r: Any, holes: Any) => {
        val x = g(a)
        if (x == null) null
        else w(Geo.keepSrid(ConcaveHull.concaveHullByLengthRatio(x, asD(r), asB(holes)), x))
      }): AnyRef))

    // ---- constructors (udfs.rs:404-472) ----
    add("st_makepoint")(
      2 -> (BinaryType, ((x: Any, y: Any) =>
        w(Geo.gf.createPoint(new Coordinate(asD(x), asD(y))))): AnyRef),
      3 -> (BinaryType, ((x: Any, y: Any, z: Any) =>
        w(Geo.gf.createPoint(new Coordinate(asD(x), asD(y), asD(z))))): AnyRef))
    add("st_point")(
      2 -> (BinaryType, ((x: Any, y: Any) =>
        w(Geo.gf.createPoint(new Coordinate(asD(x), asD(y))))): AnyRef))
    add("st_makeenvelope")(
      4 -> (BinaryType, ((a: Any, b: Any, c: Any, d: Any) =>
        w(Geo.gf.toGeometry(new Envelope(asD(a), asD(c), asD(b), asD(d))))): AnyRef),
      5 -> (BinaryType, ((a: Any, b: Any, c: Any, d: Any, srid: Any) => {
        val env = Geo.gf.toGeometry(new Envelope(asD(a), asD(c), asD(b), asD(d)))
        env.setSRID(asI(srid)); w(env)
      }): AnyRef))
    add("st_tileenvelope")(
      3 -> (BinaryType, ((z: Any, x: Any, y: Any) =>
        w(Geo.tileEnvelope(asI(z), asI(x), asI(y)))): AnyRef))
    def fromText(srid: Int)(s: Any): Array[Byte] = {
      if (s == null) null
      else {
        val x = Geo.fromWkt(s.toString)
        if (srid != 0) x.setSRID(srid)
        w(x)
      }
    }
    add("st_geomfromtext")(
      1 -> (BinaryType, ((s: Any) => fromText(0)(s)): AnyRef),
      2 -> (BinaryType, ((s: Any, srid: Any) => fromText(asI(srid))(s)): AnyRef))
    add("st_geometryfromtext")(
      1 -> (BinaryType, ((s: Any) => fromText(0)(s)): AnyRef),
      2 -> (BinaryType, ((s: Any, srid: Any) => fromText(asI(srid))(s)): AnyRef))
    add("st_geomfromewkt")(
      1 -> (BinaryType, ((s: Any) =>
        if (s == null) null else w(Geo.fromEwkt(s.toString))): AnyRef))
    add("st_geomfromwkb")(
      1 -> (BinaryType, ((b: Any) => { val x = g(b); if (x == null) null else w(x) }): AnyRef),
      2 -> (BinaryType, ((b: Any, srid: Any) => {
        val x = g(b); if (x == null) null else { x.setSRID(asI(srid)); w(x) }
      }): AnyRef))
    add("st_geomfromewkb")(
      1 -> (BinaryType, ((b: Any) => { val x = g(b); if (x == null) null else w(x) }): AnyRef))
    add("st_geomfromgeojson")(
      1 -> (BinaryType, ((s: Any) =>
        if (s == null) null else w(Geo.fromGeoJson(s.toString))): AnyRef))

    // ---- CRS + MVT (st_transform.rs, st_asmvtgeom.rs) ----
    add("st_transform")(
      2 -> (BinaryType, ((a: Any, srid: Any) => {
        val x = g(a); if (x == null) null else w(Geo.transform(x, asI(srid)))
      }): AnyRef))
    def mvt(a: Any, box: Any, extent: Int, buf: Int, clip: Boolean): Array[Byte] = {
      val x = g(a)
      if (x == null || box == null) null
      else {
        val r = box.asInstanceOf[Row]
        val out = Geo.asMvtGeom(x,
          (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)),
          extent, buf, clip)
        if (out == null) null else w(out)
      }
    }
    add("st_asmvtgeom")(
      2 -> (BinaryType, ((a: Any, b: Any) => mvt(a, b, 4096, 256, clip = true)): AnyRef),
      3 -> (BinaryType, ((a: Any, b: Any, e: Any) => mvt(a, b, asI(e), 256, clip = true)): AnyRef),
      4 -> (BinaryType, ((a: Any, b: Any, e: Any, bf: Any) => mvt(a, b, asI(e), asI(bf), clip = true)): AnyRef),
      5 -> (BinaryType, ((a: Any, b: Any, e: Any, bf: Any, c: Any) => mvt(a, b, asI(e), asI(bf), asB(c))): AnyRef))
  }

  /** PostGIS ST_BuildArea: polygonize the linework, union the faces. */
  private def buildArea(input: Geometry): Geometry = {
    val p = new Polygonizer(true)
    p.add(input)
    val polys = p.getPolygons
    if (polys.isEmpty) Geo.gf.createPolygon()
    else {
      val arr = polys.toArray(new Array[Geometry](0))
      if (arr.length == 1) arr(0) else new CascadedUnion(arr).union()
    }
  }

  private class CascadedUnion(geoms: Array[Geometry]) {
    def union(): Geometry =
      org.locationtech.jts.operation.union.UnaryUnionOp.union(
        java.util.Arrays.asList(geoms: _*))
  }

  /** PostGIS ST_Split subset: polygon split by a line blade, (multi)
    * line split by point or line. */
  private def split(input: Geometry, blade: Geometry): Geometry = (input, blade) match {
    case (poly, line: LineString) if poly.getDimension == 2 =>
      val p = new Polygonizer(false)
      p.add(poly.getBoundary.union(line))
      val out = p.getPolygons.toArray(new Array[Geometry](0))
        .filter(f => poly.contains(f.getInteriorPoint))
      Geo.gf.createGeometryCollection(out)
    case (lines, pt: Point) if lines.getDimension == 1 =>
      Geo.splitLinesByPoint(lines, pt)
    case (l, b) if l.getDimension == 1 =>
      // generic line-by-line: difference after noding
      Geo.gf.createGeometryCollection(Array[Geometry](l.difference(b)))
    case _ =>
      throw new IllegalArgumentException(
        s"ST_Split: unsupported combination ${input.getGeometryType} / ${blade.getGeometryType}")
  }
}
