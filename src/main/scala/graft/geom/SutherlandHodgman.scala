package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The Sutherland–Hodgman kernel, written once: the half-plane step and
  * the shoelace epilogue that [[PolygonClipArea]], [[PolygonClipRing]]
  * and [[GeneralClip]]'s triangle clip all run, interpreted and
  * codegen'd alike (their `doGenCode` calls these static methods).
  *
  * Clip the subject (any simple polygon) by a CONVEX CCW clip ring: a
  * left fold of [[step]] over the clip ring's cyclic edges. Side tests
  * are cross products (>= 0 is inside), crossings the determinant-form
  * line intersection, and the fold's output is bit-for-bit the
  * higher-order-function formulation the specs keep as an oracle.
  *
  * Reference semantics: shapely `intersection`, gpd_lite_toolbox/
  * utils.py:188-211; algorithm: Sutherland & Hodgman, "Reentrant polygon
  * clipping", CACM 17(1), 1974.
  */
object SutherlandHodgman {

  /** A clipped polygon: the first `n` entries of `x`/`y`. */
  private final class Clipped(val x: Array[Double], val y: Array[Double],
                              val n: Int)

  /** One half-plane step: writes the part of polygon (curX, curY, curN)
    * on the inner side of clip edge (e1x, e1y) -> (e2x, e2y) into
    * (nxtX, nxtY) and returns its vertex count. A polygon of fewer than
    * 3 vertices clips to nothing. The step emits at most 2 points per
    * input edge (the crossing plus the endpoint), so nxt must hold
    * 2 * curN vertices. */
  private[geom] def step(curX: Array[Double], curY: Array[Double],
                         curN: Int, e1x: Double, e1y: Double,
                         e2x: Double, e2y: Double,
                         nxtX: Array[Double], nxtY: Array[Double]): Int = {
    var outN = 0
    if (curN >= 3) {
      var j = 0
      while (j < curN) {
        val sx = curX(j); val sy = curY(j)
        val jn = if (j + 1 == curN) 0 else j + 1
        val px = curX(jn); val py = curY(jn)
        val insS = (e2x - e1x) * (sy - e1y) - (e2y - e1y) * (sx - e1x) >= 0
        val insP = (e2x - e1x) * (py - e1y) - (e2y - e1y) * (px - e1x) >= 0
        if (insP != insS) {
          val n1 = e1x * e2y - e1y * e2x
          val n2 = sx * py - sy * px
          val den = (e1x - e2x) * (sy - py) - (e1y - e2y) * (sx - px)
          nxtX(outN) = (n1 * (sx - px) - n2 * (e1x - e2x)) / den
          nxtY(outN) = (n1 * (sy - py) - n2 * (e1y - e2y)) / den
          outN += 1
        }
        if (insP) { nxtX(outN) = px; nxtY(outN) = py; outN += 1 }
        j += 1
      }
    }
    outN
  }

  /** |shoelace| / 2 of the polygon (x, y, n); 0.0 below 3 vertices. */
  private[geom] def shoelace(x: Array[Double], y: Array[Double],
                             n: Int): Double =
    if (n < 3) 0.0
    else {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val jn = if (j + 1 == n) 0 else j + 1
        acc += x(j) * y(jn) - x(jn) * y(j)
        j += 1
      }
      math.abs(acc) / 2.0
    }

  /** Clip `subj` by the convex CCW ring `clip`, both
    * array<struct<x:double, y:double>>. */
  private def clip(subj: ArrayData, clip: ArrayData): Clipped = {
    val n0 = subj.numElements()
    val m = clip.numElements()
    // a CONCAVE subject can grow a step's output past n + m, so the
    // buffers resize to 2 * curN before each step
    var cap = math.max(2 * n0, 8)
    var curX = new Array[Double](cap)
    var curY = new Array[Double](cap)
    var nxtX = new Array[Double](cap)
    var nxtY = new Array[Double](cap)
    var curN = n0
    var i = 0
    while (i < n0) {
      val p = subj.getStruct(i, 2)
      curX(i) = p.getDouble(0); curY(i) = p.getDouble(1)
      i += 1
    }
    var k = 0
    while (k < m) {
      val c1 = clip.getStruct(k, 2)
      val c2 = clip.getStruct((k + 1) % m, 2)
      if (2 * curN > cap) {
        cap = 2 * curN
        nxtX = new Array[Double](cap); nxtY = new Array[Double](cap)
      }
      val outN = step(curX, curY, curN, c1.getDouble(0), c1.getDouble(1),
        c2.getDouble(0), c2.getDouble(1), nxtX, nxtY)
      val tx = curX; val ty = curY
      curX = nxtX; curY = nxtY
      // the old cur arrays may be smaller than cap after a resize; only
      // reuse them as the next scratch if they still fit
      if (tx.length >= cap) { nxtX = tx; nxtY = ty }
      else { nxtX = new Array[Double](cap); nxtY = new Array[Double](cap) }
      curN = outN
      k += 1
    }
    new Clipped(curX, curY, curN)
  }

  /** Unrounded intersection area of `subj` and the convex CCW `clip`
    * (0.0 when the clipped polygon is degenerate). */
  def area(subj: ArrayData, clip: ArrayData): Double = {
    val c = this.clip(subj, clip)
    shoelace(c.x, c.y, c.n)
  }

  /** The clipped ring of `subj` and the convex CCW `clip` as
    * array<struct<x,y>> in emission order (possibly fewer than 3
    * vertices on degenerate output — callers filter). */
  def ring(subj: ArrayData, clip: ArrayData): ArrayData = {
    val c = this.clip(subj, clip)
    val out = new Array[Any](c.n)
    var j = 0
    while (j < c.n) {
      out(j) = InternalRow(c.x(j), c.y(j))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Sutherland–Hodgman intersection AREA as a native Catalyst expression
  * (SURVEY.md §5): left = subject ring (any simple polygon), right =
  * CONVEX CCW clip ring, both array<struct<x:double, y:double>>; result
  * = unrounded intersection area (0.0 when the clipped polygon is
  * degenerate). Both paths call [[SutherlandHodgman.area]]. */
case class PolygonClipArea(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PolygonClipArea =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    SutherlandHodgman.area(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.geom.SutherlandHodgman.area($a, $b);")
}

object PolygonClipArea {
  /** Column API: native codegen'd S-H intersection area. */
  def apply(subject: Column, clipRing: Column): Column =
    ColumnBridge.column(PolygonClipArea(
      ColumnBridge.expression(subject), ColumnBridge.expression(clipRing)))
}

/** Sutherland–Hodgman intersection RING as a native Catalyst expression
  * (shapely `intersection` returns the clipped polygon's ring): left =
  * subject ring (any simple polygon), right = CONVEX CCW clip ring;
  * result = the clipped ring as array<struct<x,y>> in S-H emission
  * order. Both paths call [[SutherlandHodgman.ring]]. */
case class PolygonClipRing(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false))),
    containsNull = false)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PolygonClipRing =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any =
    SutherlandHodgman.ring(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.geom.SutherlandHodgman.ring($a, $b);")
}

object PolygonClipRing {
  /** Column API: native codegen'd S-H clipped ring. */
  def apply(subject: Column, clipRing: Column): Column =
    ColumnBridge.column(PolygonClipRing(
      ColumnBridge.expression(subject), ColumnBridge.expression(clipRing)))
}
