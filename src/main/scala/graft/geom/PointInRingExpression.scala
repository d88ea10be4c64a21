package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Ray-cast point-in-ring: the kernel that both paths of [[PointInRing]]
  * call. Same crossing-parity semantics as GeomSpec.pointInRing's
  * higher-order formulation (identical xint arithmetic -> identical
  * results), as one tight loop per row instead of a lambda frame per
  * segment.
  *
  * The loop wraps the last vertex to the first, which closes open rings
  * and contributes a degenerate (no-crossing) segment on already-closed
  * ones — so both ring conventions are handled uniformly.
  *
  * Reference semantics: shapely `contains` in the reference's rejection
  * loop (gpd_lite_toolbox/core.py:546-552).
  */
object RayCast {

  /** Whether (x, y) lies inside the ring (array<struct<x,y>>). */
  def inside(x: Double, y: Double, r: ArrayData): Boolean = {
    val n = r.numElements()
    var inside = false
    var i = 0
    while (i < n) {
      val p1 = r.getStruct(i, 2)
      val p2 = r.getStruct((i + 1) % n, 2)
      val x1 = p1.getDouble(0); val y1 = p1.getDouble(1)
      val x2 = p2.getDouble(0); val y2 = p2.getDouble(1)
      if ((y1 > y) != (y2 > y)) {
        val xint = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
        if (x < xint) inside = !inside
      }
      i += 1
    }
    inside
  }
}

/** [[RayCast]] as a native Catalyst expression (SURVEY.md §5): point
  * (first, second) in ring third. */
case class PointInRing(first: Expression, second: Expression,
                       third: Expression) extends TernaryExpression {

  override def dataType: DataType = BooleanType

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PointInRing =
    copy(first = f, second = s, third = t)

  override def nullSafeEval(px: Any, py: Any, ring: Any): Any =
    RayCast.inside(px.asInstanceOf[Double], py.asInstanceOf[Double],
      ring.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (px, py, r) =>
      s"${ev.value} = graft.geom.RayCast.inside($px, $py, $r);")
}

object PointInRing {
  /** Column API: native codegen'd ray-cast containment. */
  def apply(px: Column, py: Column, ring: Column): Column =
    ColumnBridge.column(PointInRing(ColumnBridge.expression(px),
      ColumnBridge.expression(py), ColumnBridge.expression(ring)))
}
