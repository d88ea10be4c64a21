package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The one-kernel rule for graft's native Catalyst expressions: the
  * generated code of each expression is a call to the same Scala kernel
  * that its interpreted path runs, so the two cannot drift apart. */
class NativeKernelSpec extends AnyFunSuite with SharedSpark {

  private val ring = ArrayType(StructType(Seq(
    StructField("x", DoubleType), StructField("y", DoubleType))))
  private val doubles = ArrayType(DoubleType)
  private val longs = ArrayType(LongType)
  private def in(i: Int, t: DataType): Expression = BoundReference(i, t, true)

  /** One instance of every native expression, over bound inputs. */
  private val samples: Seq[Expression] = {
    import graft.functions._
    import graft.geom._
    import graft.sources.{WkbParseRings, WkbWritePolygon}
    val one = Array(1.0)
    Seq(
      PolygonClipArea(in(0, ring), in(1, ring)),
      PolygonClipRing(in(0, ring), in(1, ring)),
      GeneralClipAreaMicro(in(0, ring), in(1, ring)),
      GeneralIntersectRings(in(0, doubles), in(1, doubles)),
      HausdorffDistance(in(0, ring), in(1, ring)),
      PointInRing(in(0, DoubleType), in(1, DoubleType), in(2, ring)),
      DissolveRings(in(0, doubles)),
      AdcScore(in(0, longs), in(1, doubles), one, 1, 1, 1),
      ArrDot(in(0, doubles), in(1, doubles), 1),
      BlocklistScan(in(0, StringType), Seq("term")),
      CellBeam(in(0, longs), in(1, LongType), in(2, LongType),
        in(3, LongType), 1),
      HyperplaneBucket(in(0, doubles), one, 1, 1),
      IvfDistances(in(0, doubles), one, Array(0L), 1),
      JlProject(in(0, doubles), one, 1, 1),
      MaxSimScore(in(0, doubles), one, 1, 1),
      MinHashSig(in(0, StringType), 5, 4),
      MinHashPairEval(in(0, longs), in(1, longs), 4, 2),
      MmrSelect(in(0, doubles), 1, 0, 1, 1),
      CosineScores(in(0, LongType), in(1, doubles), in(2, DoubleType),
        Array(0L), one, one, 1),
      IntDotScores(in(0, LongType), in(1, longs), in(2, LongType),
        Array(0L), Array(1L), Array(1L), 1),
      ShingleHash(in(0, StringType), 5, 31L, 1000003L),
      DeltaVarint(in(0, longs)),
      Winnow(in(0, longs), 4),
      WkbParseRings(in(0, BinaryType)),
      WkbWritePolygon(in(0, ring), in(1, BooleanType)))
  }

  /** Concrete non-aggregate Expression classes compiled into `pkg`. */
  private def expressionClasses(pkg: String): Set[Class[_]] = {
    val url = getClass.getClassLoader.getResource(pkg.replace('.', '/'))
    assert(url.getProtocol == "file", s"$pkg is not a class directory: $url")
    new java.io.File(url.toURI).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".class"))
      .map(f => Class.forName(s"$pkg.${f.stripSuffix(".class")}", false,
        getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !classOf[AggregateFunction].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet
  }

  test("every native expression's codegen only forwards to its kernel") {
    val all = Seq("graft.geom", "graft.functions", "graft.sources")
      .flatMap(expressionClasses).toSet
    assert(samples.map(_.getClass).toSet === all,
      "a native expression has no sample here")
    val addsFunctions = samples.filter { e =>
      val ctx = new CodegenContext
      e.genCode(ctx)
      ctx.declareAddedFunctions().trim.nonEmpty
    }.map(_.getClass.getSimpleName)
    assert(addsFunctions.isEmpty,
      s"codegen adds a generated function: ${addsFunctions.mkString(", ")}")
  }

  /** Rows of `df()` planned with whole-stage codegen, then with every
    * expression interpreted (no whole-stage codegen, no generated
    * projections); the session's conf is restored afterwards. */
  private def codegenAndInterpreted(df: () => DataFrame)
      : (Seq[Row], Seq[Row]) = {
    val keys = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def run(): Seq[Row] = {
      val q = df()
      val rows = q.collect().toSeq.sortBy(_.toString)
      val stages = NativeKernelSpec.find(q.queryExecution.executedPlan)(
        _.isInstanceOf[WholeStageCodegenExec]).isDefined
      assert(stages === (spark.conf.get(keys.head) == "true"))
      rows
    }
    try {
      keys.foreach(spark.conf.unset)
      val codegen = run()
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
      (codegen, run())
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def ringOf(pts: (Double, Double)*): Column =
    array(pts.map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y"))
    }: _*)

  /** Row `id` takes the id-th column: non-literal per-row inputs, so
    * nothing constant-folds into the plan. */
  private def byId(cs: Seq[Column]): Column =
    cs.zipWithIndex.tail.foldLeft(when(col("id") === 0, cs.head)) {
      case (w, (c, i)) => w.when(col("id") === i, c)
    }

  test("geom expressions: the interpreted path equals codegen on columns") {
    import graft.geom._
    val square = ringOf((0, 0), (4, 0), (4, 4), (0, 4))
    // sawtooth: clipping at y = 2 cuts 6 one-vertex peaks, so the step
    // emits 21 vertices from 15 and the buffers resize (2 * curN > cap)
    val saw = ringOf(Seq((0.0, 0.0), (12.0, 0.0)) ++
      (12 to 0 by -1).map(x => (x.toDouble, if (x % 2 == 0) 1.0 else 3.0)): _*)
    val band = ringOf((-1, -1), (13, -1), (13, 2), (-1, 2))
    val far = ringOf((10, 10), (12, 10), (12, 12), (10, 12))
    val empty = slice(square, 1, 0)
    val cases = Seq(
      (square, ringOf((2, 2), (6, 2), (6, 6), (2, 6))),
      (saw, band),
      (square, far), // disjoint: the clipped ring has 0 vertices
      (ringOf((0, 0), (10, 0), (10, 10), (5, 2.5), (0, 10)),
        ringOf((8, 0), (8, 4), (3, 4), (3, 9), (0, 9), (0, 0))),
      (square, empty))
    val n = cases.size
    def df(): DataFrame = spark.range(n)
      .select(col("id"), byId(cases.map(_._1)).as("s"),
        byId(cases.map(_._2)).as("c"))
      .select(col("id"),
        PolygonClipArea(col("s"), col("c")).as("area"),
        PolygonClipRing(col("s"), col("c")).as("ring"),
        GeneralClipAreaMicro(col("s"), col("c")).as("micro"),
        HausdorffDistance(col("s"), col("c")).as("hd"),
        PointInRing(col("id") * 0.9, col("id") * 0.7, col("s")).as("pip"))
    val (codegen, interpreted) = codegenAndInterpreted(() => df())
    assert(codegen === interpreted)
    val byCase = codegen.map(r => r.getLong(0) -> r).toMap
    assert(byCase(0).getDouble(1) === 4.0)
    assert(byCase(1).getDouble(1) === 21.0) // base 12 + 6 trapezoids of 1.5
    assert(byCase(1).getSeq[Row](2).size === 21)
    assert(byCase(2).getDouble(1) === 0.0)
    assert(byCase(2).getSeq[Row](2).size < 3)
    assert(byCase(4).isNullAt(4), "hausdorff to an empty ring is NULL")
    assert(!byCase(3).isNullAt(4))

    // the ring kernels behind two registry queries, on parquet columns
    for (q <- Seq("q_clip_rings_general", "q_clip_rings_arbitrary",
        "q_dissolve_union_rings")) {
      val (c, i) = codegenAndInterpreted(
        () => SparkEntry.queries(q)(spark, SfDir))
      assert(c.nonEmpty && c === i, q)
    }
  }
}

/** Plan traversal that descends into adaptive query stages. */
object NativeKernelSpec extends AdaptiveSparkPlanHelper
