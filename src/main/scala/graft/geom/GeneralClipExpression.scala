package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Shared kernel for the general (concave x concave) intersection area —
  * called by BOTH the interpreted and the codegen path of
  * [[GeneralClipAreaMicro]], so the two can never diverge.
  *
  * Identity (the specs keep a higher-order-function formulation it is
  * asserted bit-equal to): with both simple rings decomposed into
  * signed fan triangles from their first vertex,
  * `area(P ∩ Q) = |sum_ij s_i * s_j * area(T_i ∩ T_j)|`; each
  * triangle-triangle clip is convex x convex Sutherland–Hodgman
  * ([[SutherlandHodgman.step]]) with the clip triangle re-wound CCW.
  * Every term is rounded to integer MICRO-units with the exact
  * arithmetic of Spark's `round(_, 0)` (BigDecimal HALF_UP), making the
  * sum accumulation-order independent — the property the DuckDB
  * oracle's unordered SUM relies on.
  *
  * Reference semantics: shapely `intersection` on arbitrary simple
  * polygons, gpd_lite_toolbox/utils.py:188-211.
  */
object GeneralClip {

  /** S-H clip of triangle (ax,ay,bx,by,cx,cy) by CCW triangle
    * (px,py,qx,qy,rx,ry); returns |shoelace|/2 of the result. */
  private def triClipArea(ax: Double, ay: Double, bx: Double, by: Double,
                          cx: Double, cy: Double,
                          px: Double, py: Double, qx: Double, qy: Double,
                          rx: Double, ry: Double): Double = {
    // convex ∩ convex output has <= 3 + 3 vertices; 16 leaves headroom
    var curX = new Array[Double](16); var curY = new Array[Double](16)
    var nxtX = new Array[Double](16); var nxtY = new Array[Double](16)
    curX(0) = ax; curY(0) = ay; curX(1) = bx; curY(1) = by
    curX(2) = cx; curY(2) = cy
    var curN = 3
    val ex = Array(px, qx, rx); val ey = Array(py, qy, ry)
    var k = 0
    while (k < 3) {
      curN = SutherlandHodgman.step(curX, curY, curN, ex(k), ey(k),
        ex((k + 1) % 3), ey((k + 1) % 3), nxtX, nxtY)
      val tx = curX; val ty = curY
      curX = nxtX; curY = nxtY; nxtX = tx; nxtY = ty
      k += 1
    }
    SutherlandHodgman.shoelace(curX, curY, curN)
  }

  /** Spark `round(term, 0).cast("long")` replica: Spark's Round on
    * DoubleType goes through BigDecimal(double) = BigDecimal.valueOf
    * (shortest decimal repr) with HALF_UP. */
  private def roundMicro(term: Double): Long =
    java.math.BigDecimal.valueOf(term)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Signed-fan intersection area in integer micro-units. */
  def areaMicro(subj: ArrayData, clip: ArrayData): Long = {
    val n = subj.numElements(); val m = clip.numElements()
    if (n < 3 || m < 3) return 0L
    val sx = new Array[Double](n); val sy = new Array[Double](n)
    val cx = new Array[Double](m); val cy = new Array[Double](m)
    var i = 0
    while (i < n) {
      val p = subj.getStruct(i, 2); sx(i) = p.getDouble(0); sy(i) = p.getDouble(1)
      i += 1
    }
    i = 0
    while (i < m) {
      val p = clip.getStruct(i, 2); cx(i) = p.getDouble(0); cy(i) = p.getDouble(1)
      i += 1
    }
    var acc = 0L
    i = 1
    while (i <= n - 2) {
      val crA = (sx(i) - sx(0)) * (sy(i + 1) - sy(0)) -
        (sy(i) - sy(0)) * (sx(i + 1) - sx(0))
      if (crA != 0.0) {
        val sa = if (crA > 0) 1.0 else -1.0
        var j = 1
        while (j <= m - 2) {
          val crB = (cx(j) - cx(0)) * (cy(j + 1) - cy(0)) -
            (cy(j) - cy(0)) * (cx(j + 1) - cx(0))
          if (crB != 0.0) {
            val sb = if (crB > 0) 1.0 else -1.0
            // clip triangle re-wound CCW when its fan sign is negative
            val area =
              if (crB < 0)
                triClipArea(sx(0), sy(0), sx(i), sy(i), sx(i + 1), sy(i + 1),
                  cx(0), cy(0), cx(j + 1), cy(j + 1), cx(j), cy(j))
              else
                triClipArea(sx(0), sy(0), sx(i), sy(i), sx(i + 1), sy(i + 1),
                  cx(0), cy(0), cx(j), cy(j), cx(j + 1), cy(j + 1))
            acc += roundMicro(sa * sb * area * 1000000.0)
          }
          j += 1
        }
      }
      i += 1
    }
    acc
  }
}

/** Native codegen'd signed-fan general intersection area. left =
  * subject ring, right = clip ring, both simple polygons as
  * array<struct<x:double,y:double>>, either orientation, no convexity
  * requirement; result = signed fan intersection area in integer
  * micro-units (callers abs + /1e6). */
case class GeneralClipAreaMicro(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeneralClipAreaMicro =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    GeneralClip.areaMicro(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    // both paths call the SAME kernel (static forwarder on the Scala
    // object), so interpreted and codegen results are one code path
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.geom.GeneralClip.areaMicro($a, $b);")
}

object GeneralClipAreaMicro {
  /** Column API: native signed-fan general intersection area (micro). */
  def apply(subject: Column, clipRing: Column): Column =
    ColumnBridge.column(GeneralClipAreaMicro(
      ColumnBridge.expression(subject), ColumnBridge.expression(clipRing)))
}
