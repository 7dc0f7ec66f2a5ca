package graft.functions.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for great-circle distance with full
  * whole-stage-codegen support — the optional hot-path upgrade over the
  * composed-Column `Geo.greatCircle` (SURVEY.md §2.9): one fused Java
  * statement per row instead of a 20-node expression tree.
  *
  * The arithmetic replicates Geo.greatCircle's exact double-op order
  * (tcdb/utils.py:49-69 semantics), so both forms are bit-identical.
  */
case class GreatCircleDistance(first: Expression, second: Expression,
    third: Expression, fourth: Expression, units: String = "nm")
  extends QuaternaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq.fill(4)(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "great_circle"

  private def scaleExpr(ca: String): String = {
    val deg = s"(($ca) * ${java.lang.Double.toString(180.0 / math.Pi)})"
    units match {
      case "nm"      => s"($deg * 60.0)"
      case "km"      => s"(($deg * 60.0) * 1.852)"
      case "mi"      => s"(($deg * 60.0) * 1.15077945)"
      case "degrees" => deg
      case other     => throw new IllegalArgumentException(s"unit: $other")
    }
  }

  private val Rad = java.lang.Double.toString(math.Pi / 180.0)

  override protected def nullSafeEval(lat1: Any, lon1: Any,
      lat2: Any, lon2: Any): Any =
    GreatCircleDistance.distance(lat1.asInstanceOf[Double],
      lon1.asInstanceOf[Double], lat2.asInstanceOf[Double],
      lon2.asInstanceOf[Double], units)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat1, lon1, lat2, lon2) => {
      val p1 = ctx.freshName("p1"); val p2 = ctx.freshName("p2")
      val l1 = ctx.freshName("l1"); val l2 = ctx.freshName("l2")
      val ca = ctx.freshName("ca")
      s"""
         |double $p1 = $lat1 * $Rad;
         |double $p2 = $lat2 * $Rad;
         |double $l1 = $lon1 * $Rad;
         |double $l2 = $lon2 * $Rad;
         |double $ca = 2.0 * java.lang.Math.asin(java.lang.Math.sqrt(
         |  java.lang.Math.pow(java.lang.Math.sin(($p1 - $p2) / 2), 2) +
         |  java.lang.Math.cos($p1) * java.lang.Math.cos($p2) *
         |    java.lang.Math.pow(java.lang.Math.sin(($l1 - $l2) / 2), 2)));
         |${ev.value} = ${scaleExpr(ca)};
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object GreatCircleDistance {

  /** The scalar haversine behind the interpreted path, in the same
    * double-op order as the generated code and `Geo.greatCircle`, so
    * plain-Scala callers (the storm resolver's fold) get bit-identical
    * distances. */
  def distance(lat1: Double, lon1: Double, lat2: Double, lon2: Double,
      units: String = "nm"): Double = {
    val rad = math.Pi / 180.0
    val p1 = lat1 * rad
    val p2 = lat2 * rad
    val l1 = lon1 * rad
    val l2 = lon2 * rad
    val ca = 2.0 * math.asin(math.sqrt(
      math.pow(math.sin((p1 - p2) / 2), 2) +
        math.cos(p1) * math.cos(p2) * math.pow(math.sin((l1 - l2) / 2), 2)))
    val deg = ca * (180.0 / math.Pi)
    units match {
      case "nm"      => deg * 60.0
      case "km"      => (deg * 60.0) * 1.852
      case "mi"      => (deg * 60.0) * 1.15077945
      case "degrees" => deg
      case other     => throw new IllegalArgumentException(s"unit: $other")
    }
  }

  /** Column API over the native expression. */
  def greatCircleNative(lat1: Column, lon1: Column, lat2: Column,
      lon2: Column, units: String = "nm"): Column =
    Shims.column(GreatCircleDistance(
      Shims.expression(lat1.cast("double")),
      Shims.expression(lon1.cast("double")),
      Shims.expression(lat2.cast("double")),
      Shims.expression(lon2.cast("double")), units))

  /** SQL registration: `SELECT great_circle(lat1, lon1, lat2, lon2)`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "great_circle",
      exprs => GreatCircleDistance(exprs(0), exprs(1), exprs(2), exprs(3)),
      "scala_udf")
}
