package graft.spatial

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the scalar geometry ACCESSORS
  * (st_area, st_length, st_x/st_y, envelope bounds, st_isvalid, ...)
  * and the st_distance metric — the reference's udfs.rs:11-166 scalar
  * surface on its hot path. The round-9 measurement (COVERAGE_HISTORY.md,
  * row A21-A27) put the ScalaUDF wrapper at ~5% of st_area's per-row
  * cost in a same-JVM A/B: for the cheap accessors the arg boxing +
  * interpretation barrier is a visible share of the work, unlike the
  * constructive functions (st_intersection 0.1% wrapper share) where
  * JTS itself dominates. Lifting the accessors keeps a
  * filter like `st_area(g) > 10` inside one whole-stage-codegen span.
  *
  * Result nullability differs per function (st_x of a non-point and
  * the envelope bounds of an empty geometry are NULL), so codegen goes
  * through a boxed kernel result with an explicit null check rather
  * than defineCodeGen's non-null fast path.
  */
final case class StScalarExpr(name: String, child: Expression)
    extends UnaryExpression {

  override def prettyName: String = name
  override def dataType: DataType = StScalarOps.returnType(name)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  // dispatch is resolved ONCE at bind time to an int opcode (a per-row
  // string match would re-add a slice of the interpretation overhead
  // this lift strips); the generated call embeds the constant
  private val op: Int = StScalarOps.opFor(name)

  override protected def nullSafeEval(in: Any): Any =
    StScalarOps.eval(op, in.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val res = ctx.freshName("stScalar")
      val boxed = CodeGenerator.boxedType(dataType)
      s"""
         |Object $res = graft.spatial.StScalarOps.eval($op, $c);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (($boxed) $res).${CodeGenerator.javaType(dataType)}Value();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** st_distance(l, r) as a native binary expression. Kept as its own
  * node (not a name-dispatched scalar) so the distance-join extraction
  * in plans/SpatialJoinPlans can pattern-match it structurally, the
  * same way it matches [[StPredicateExpr]]. */
final case class StDistanceExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "st_distance"
  override def dataType: DataType = DoubleType
  // distance() itself can return NULL for non-null inputs (malformed
  // WKB -> Geo.fromWkb null), independent of input nullability
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(l: Any, r: Any): Any =
    StScalarOps.distance(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])

  // boxed-result + explicit null check, the same pattern as
  // StScalarExpr: defineCodeGen would assign the boxed Double straight
  // into a primitive slot, so a null kernel result would NPE under
  // codegen while the interpreted path returns NULL
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val res = ctx.freshName("stDist")
      s"""
         |java.lang.Double $res = graft.spatial.StScalarOps.distance($l, $r);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static (codegen-callable) scalar kernels. Results are boxed so a
  * per-function NULL (non-point st_x, empty-geometry envelope bounds)
  * survives the generic call; the expression unparks the primitive. */
object StScalarOps {

  def returnType(name: String): DataType = name match {
    case "st_isempty" | "st_isvalid"                 => BooleanType
    case "st_npoints" | "st_numpoints" | "st_srid"   => IntegerType
    case _                                           => DoubleType
  }

  def distance(lw: Array[Byte], rw: Array[Byte]): java.lang.Double = {
    val a = Geo.fromWkb(lw)
    val b = Geo.fromWkb(rw)
    if (a == null || b == null) null else Double.box(a.distance(b))
  }

  /** name -> opcode, resolved once per expression instance. */
  def opFor(name: String): Int = name match {
    case "st_area"                     => 0
    case "st_length"                   => 1
    case "st_x"                        => 2
    case "st_y"                        => 3
    case "st_xmin"                     => 4
    case "st_xmax"                     => 5
    case "st_ymin"                     => 6
    case "st_ymax"                     => 7
    case "st_isempty"                  => 8
    case "st_isvalid"                  => 9
    case "st_npoints" | "st_numpoints" => 10
    case "st_srid"                     => 11
    case other => throw new IllegalArgumentException(s"unknown scalar $other")
  }

  def eval(op: Int, wkb: Array[Byte]): Object = {
    val x = Geo.fromWkb(wkb)
    if (x == null) return null
    (op: @scala.annotation.switch) match {
      case 0 => Double.box(x.getArea)
      case 1 => Double.box(x.getLength)
      case 2 => x match {
        case p: org.locationtech.jts.geom.Point => Double.box(p.getX)
        case _                                  => null
      }
      case 3 => x match {
        case p: org.locationtech.jts.geom.Point => Double.box(p.getY)
        case _                                  => null
      }
      case 4 => if (x.isEmpty) null else Double.box(x.getEnvelopeInternal.getMinX)
      case 5 => if (x.isEmpty) null else Double.box(x.getEnvelopeInternal.getMaxX)
      case 6 => if (x.isEmpty) null else Double.box(x.getEnvelopeInternal.getMinY)
      case 7 => if (x.isEmpty) null else Double.box(x.getEnvelopeInternal.getMaxY)
      case 8 => Boolean.box(x.isEmpty)
      case 9 => Boolean.box(x.isValid)
      case 10 => Int.box(x.getNumPoints)
      case 11 => Int.box(x.getSRID)
      case other => throw new IllegalArgumentException(s"unknown scalar op $other")
    }
  }
}
