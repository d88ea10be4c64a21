package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Symmetric (cheap) Hausdorff distance between two vertex arrays
  * (array<struct<x:double, y:double>>): the kernel that both paths of
  * [[HausdorffDistance]] call.
  *
  * The higher-order-function formulation (GeomSpec.hausdorff — nested
  * aggregate/least/greatest lambdas) allocates a lambda frame per vertex
  * pair; this kernel is two tight loops called from the generated stage.
  * Arithmetic is IDENTICAL (dx*dx + dy*dy -> sqrt, exact min/max
  * comparisons), so it is drop-in oracle-compatible with the lambda
  * version — same bits, ~10x less per-pair overhead.
  *
  * Reference semantics: gpd_lite_toolbox/core.py:104-131 (fh_dist_lines),
  * made symmetric via max of both directions.
  */
object Hausdorff {

  /** The distance is defined only when both arrays have a vertex (a
    * directed distance to nothing is undefined; Double.MaxValue or 0.0
    * would silently poison downstream mins/maxes). */
  def defined(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() > 0 && b.numElements() > 0

  /** Max of both directed distances; callers check [[defined]] first. */
  def distance(a: ArrayData, b: ArrayData): Double =
    math.max(directed(a, b), directed(b, a))

  private def directed(a: ArrayData, b: ArrayData): Double = {
    var maxMin = 0.0
    var i = 0
    while (i < a.numElements()) {
      val pa = a.getStruct(i, 2)
      val ax = pa.getDouble(0)
      val ay = pa.getDouble(1)
      var best = Double.MaxValue
      var j = 0
      while (j < b.numElements()) {
        val pb = b.getStruct(j, 2)
        val dx = ax - pb.getDouble(0)
        val dy = ay - pb.getDouble(1)
        val d = math.sqrt(dx * dx + dy * dy)
        if (d < best) best = d
        j += 1
      }
      if (best > maxMin) maxMin = best
      i += 1
    }
    maxMin
  }
}

/** [[Hausdorff]] as a native Catalyst expression (SURVEY.md §5); NULL
  * when either vertex array is empty. */
case class HausdorffDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // empty vertex arrays yield NULL, so the expression is nullable
  // regardless of its inputs' nullability
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HausdorffDistance =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    if (Hausdorff.defined(aa, bb)) Hausdorff.distance(aa, bb) else null
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.isNull} = !graft.geom.Hausdorff.defined($a, $b);
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.geom.Hausdorff.distance($a, $b);
         |}
       """.stripMargin)
}

object HausdorffDistance {
  /** Column API: native codegen'd hausdorff over two vertex arrays. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(HausdorffDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
