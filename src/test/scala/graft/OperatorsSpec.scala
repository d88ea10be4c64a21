package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources.Wkt

class OperatorsSpec extends AnyFunSuite with SharedSpark {

  test("random points fall strictly inside their rectangles") {
    val polys = GeoData.polyNation(spark, SfDir)
      .select("pid", "x0", "y0", "x1", "y1")
    val pts = RandomPoints.inRects(polys, kMod = 3)
      .join(polys, "pid")
      .filter(col("px") <= col("x0") || col("px") >= col("x1") ||
        col("py") <= col("y0") || col("py") >= col("y1"))
    assert(pts.count() === 0)
  }

  test("random points count = sum of k(pid)") {
    val n = RandomPoints.inRects(
      GeoData.polyNation(spark, SfDir).select("pid", "x0", "y0", "x1", "y1"),
      kMod = 3).count()
    // pids 0..24 -> k = pid % 3 + 1: sum = 25/3 groups of (1+2+3)=6 + extra
    val expected = (0L until 25L).map(p => p % 3 + 1).sum
    assert(n === expected)
  }

  test("non-contiguous cartogram: anchor region keeps scale 1, others shrink") {
    val out = CartogramTestData.nc(spark, SfDir).collect()
    assert(out.map(_.getAs[Double]("scale")).max === 1.0)
    assert(out.forall(_.getAs[Double]("scale") > 0.0))
  }

  test("dougenik cartogram preserves region count and stays finite") {
    val out = CartogramTestData.dougenik(spark, SfDir).collect()
    assert(out.length === 25)
    assert(out.forall(r => !r.getAs[Double]("new_area").isNaN &&
      r.getAs[Double]("new_area") > 0.0))
  }

  test("contour: every cell band consistent with its idw value") {
    val out = Contour.idwIsobands(
      GeoData.ptsEvents(spark, SfDir)
        .select(col("x"), col("y"), col("weight").as("val")),
      10.0, 15.0, 10.0).collect()
    assert(out.nonEmpty)
    assert(out.forall(r =>
      r.getAs[Long]("band") === math.floor(r.getAs[Double]("idw") / 10.0).toLong))
  }

  test("wkt: point and linestring round-trip") {
    val df = spark.range(1).select(
      Wkt.parsePoint(lit("POINT (12.5 -3.25)")).as("p"),
      Wkt.parseLineString(lit("LINESTRING (0 0, 3 0, 3 4)")).as("l"))
    val r = df.select(col("p.x"), col("p.y"),
      graft.geom.Geom.lineLength(col("l")).as("len")).head()
    assert(r.getDouble(0) === 12.5)
    assert(r.getDouble(1) === -3.25)
    assert(r.getDouble(2) === 7.0)
  }

  test("wkt: multipolygon with holes parses all rings in document order") {
    val wkt = "MULTIPOLYGON (((0 0, 10 0, 10 8, 0 8, 0 0), " +
      "(2 2, 4 2, 4 4, 2 4, 2 2)), ((100 0, 105 0, 105 5, 100 5, 100 0)))"
    val r = spark.range(1)
      .select(Wkt.parseRings(lit(wkt)).as("rings"))
      .select(size(col("rings")).as("n"),
        graft.geom.Geom.ringArea(col("rings")(0)).as("a0"),
        graft.geom.Geom.ringArea(col("rings")(1)).as("a1"),
        graft.geom.Geom.ringArea(col("rings")(2)).as("a2"),
        Wkt.toWktRing(col("rings")(1)).as("rw"))
      .head()
    assert(r.getAs[Int]("n") === 3)
    assert(r.getAs[Double]("a0") === 80.0)
    assert(r.getAs[Double]("a1") === 4.0)
    assert(r.getAs[Double]("a2") === 25.0)
    assert(r.getAs[String]("rw") === "(2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0)")
    // POLYGON with a hole goes through the same parser
    val p = spark.range(1).select(size(Wkt.parseRings(
      lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")))
      .as("n")).head()
    assert(p.getAs[Int]("n") === 2)
  }

  test("isochrone accepts an injected travel-time matrix") {
    import spark.implicits._
    val pts = Seq((0.0, 0.0), (30.0, 30.0)).toDF("x", "y")
    // matrix covers only two cells; tt drives the band directly
    val matrix = Seq((0L, 0L, 5.0), (1L, 2L, 25.0)).toDF("cx", "cy", "tt_min")
    val r = graft.operators.Contour
      .isochrone(spark, pts, cell = 10.0, bandMinutes = 10.0, Some(matrix))
      .collect().map(x => (x.getAs[Long]("cx"), x.getAs[Long]("cy")) ->
        (x.getAs[Double]("tt_min"), x.getAs[Long]("band"))).toMap
    assert(r.size === 2)
    assert(r((0L, 0L)) === ((5.0, 0L)))
    assert(r((1L, 2L)) === ((25.0, 2L)))
    // default provider (stub) still covers the whole grid
    val full = graft.operators.Contour
      .isochrone(spark, pts, cell = 10.0, bandMinutes = 10.0)
    assert(full.count() === 9)
  }

  test("sutherland-hodgman clip: known intersection areas") {
    def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y"))
    }: _*)
    val sq1 = ring((0, 0), (4, 0), (4, 4), (0, 4))          // 4x4 at origin
    val sq2 = ring((2, 2), (6, 2), (6, 6), (2, 6))          // shifted -> 2x2 overlap
    val tri = ring((0, 0), (6, 0), (0, 6))                  // right triangle
    val far = ring((100, 100), (104, 100), (104, 104), (100, 104))
    def intersectionArea(subject: org.apache.spark.sql.Column,
                         clipRing: org.apache.spark.sql.Column) =
      GeomSpec.clippedArea(GeomSpec.clip(subject, clipRing))
    val r = spark.range(1).select(
      intersectionArea(sq1, sq2).as("a"),   // 2*2 = 4
      intersectionArea(tri, sq1).as("b"),   // 4x4 square minus corner tri(2) -> 14
      intersectionArea(sq1, far).as("c"),   // disjoint -> 0
      intersectionArea(sq1, sq1).as("d"))   // self -> 16
      .head()
    assert(r.getDouble(0) === 4.0)
    assert(r.getDouble(1) === 14.0)
    assert(r.getDouble(2) === 0.0)
    assert(r.getDouble(3) === 16.0)
  }

  test("native PolygonClipArea matches the lambda clip fold bit-for-bit") {
    import graft.geom.PolygonClipArea
    // real pair data: customer octagons x nation squares at test SF
    val a = graft.GeoData.rectCustomer(spark, SfDir)
    val b = graft.GeoData.polyNation(spark, SfDir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    val pairs = graft.operators.Rects.intersectPairs(a, b, cellSize = 20.0)
    val c = (col("ax1") - col("ax0")) / 4.0
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.as("x"), y.as("y"))
    val subject = array(
      pt(col("ax0") + c, col("ay0")), pt(col("ax1") - c, col("ay0")),
      pt(col("ax1"), col("ay0") + c), pt(col("ax1"), col("ay1") - c),
      pt(col("ax1") - c, col("ay1")), pt(col("ax0") + c, col("ay1")),
      pt(col("ax0"), col("ay1") - c), pt(col("ax0"), col("ay0") + c))
    val clipRing = array(
      pt(col("bx0"), col("by0")), pt(col("bx1"), col("by0")),
      pt(col("bx1"), col("by1")), pt(col("bx0"), col("by1")))
    val scored = pairs
      .select(PolygonClipArea(subject, clipRing).as("native"),
        GeomSpec.clip(subject, clipRing).as("clipped"))
      .withColumn("lambda",
        when(size(col("clipped")) < 3, lit(0.0))
          .otherwise(graft.geom.Geom.ringArea(col("clipped"))))
    assert(scored.filter(col("native") =!= col("lambda")).count() === 0)
    assert(scored.filter(col("native") > 0.0).count() > 0)
  }

  test("native PolygonClipRing matches the lambda clip fold bit-for-bit") {
    import graft.geom.PolygonClipRing
    val a = graft.GeoData.rectCustomer(spark, SfDir)
    val b = graft.GeoData.polyNation(spark, SfDir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    val pairs = graft.operators.Rects.intersectPairs(a, b, cellSize = 20.0)
    val c = (col("ax1") - col("ax0")) / 4.0
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.as("x"), y.as("y"))
    val subject = array(
      pt(col("ax0") + c, col("ay0")), pt(col("ax1") - c, col("ay0")),
      pt(col("ax1"), col("ay0") + c), pt(col("ax1"), col("ay1") - c),
      pt(col("ax1") - c, col("ay1")), pt(col("ax0") + c, col("ay1")),
      pt(col("ax0"), col("ay1") - c), pt(col("ax0"), col("ay0") + c))
    val clipRing = array(
      pt(col("bx0"), col("by0")), pt(col("bx1"), col("by0")),
      pt(col("bx1"), col("by1")), pt(col("bx0"), col("by1")))
    // identical vertex SEQUENCES (order + exact doubles), not just areas
    val scored = pairs.select(
      PolygonClipRing(subject, clipRing).as("native"),
      GeomSpec.clip(subject, clipRing).as("lambda"))
    assert(scored.filter(col("native") =!= col("lambda")).count() === 0)
    assert(scored.filter(size(col("native")) >= 3).count() > 0)
  }

  test("native clip handles CONCAVE subjects (buffer growth) = lambda fold") {
    import graft.geom.PolygonClipArea
    def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y"))
    }: _*)
    // 6-tooth comb: one half-plane step emits far more than n+m points
    val comb = ring(
      (Seq((0.0, 0.0), (12.0, 0.0), (12.0, 1.0)) ++
        (5 to 0 by -1).flatMap { k =>
          Seq((2.0 * k + 1, 1.0), (2.0 * k + 1, 3.0),
            (2.0 * k, 3.0), (2.0 * k, 1.0))
        }): _*)
    val all = ring((0, 0), (12, 0), (12, 3), (0, 3))
    val tips = ring((0, 2), (12, 2), (12, 3), (0, 3))
    def lambdaArea(subj: org.apache.spark.sql.Column,
                   clip: org.apache.spark.sql.Column) =
      GeomSpec.clippedArea(GeomSpec.clip(subj, clip))
    val r = spark.range(1).select(
      PolygonClipArea(comb, all).as("na"),
      lambdaArea(comb, all).as("la"),
      PolygonClipArea(comb, tips).as("nt"),
      lambdaArea(comb, tips).as("lt")).head()
    assert(r.getDouble(0) === 24.0)          // base 12 + 6 teeth x 2
    assert(r.getDouble(1) === 24.0)
    assert(r.getDouble(2) === 6.0)           // six 1x1 tooth tips
    assert(r.getDouble(3) === 6.0)
  }

  test("clipAreaConvexParts: concave L-shape clip via two convex parts") {
    import graft.geom.PolyClip
    def ring(pts: (Double, Double)*) = array(pts.map { case (x, y) =>
      struct(lit(x).as("x"), lit(y).as("y"))
    }: _*)
    val subj = ring((0, 0), (10, 0), (10, 10), (0, 10))     // 10x10 square
    val lShape = array(
      ring((0, 0), (10, 0), (10, 4), (0, 4)),               // bottom bar 40
      ring((0, 4), (4, 4), (4, 10), (0, 10)))               // column 24
    val half = ring((5, 0), (15, 0), (15, 15), (5, 15))     // x >= 5 window
    val r = spark.range(1).select(
      PolyClip.clipAreaConvexParts(subj, lShape).as("full"),
      PolyClip.clipAreaConvexParts(half, lShape).as("partial")).head()
    assert(r.getDouble(0) === 64.0)  // whole L inside the subject
    assert(r.getDouble(1) === 20.0)  // only the bar's right half (5..10 x 0..4)
  }

  test("dissolveUnionArea: overlap counted once, disjoint summed") {
    import spark.implicits._
    val parts = Seq(
      // gid 0: two 4x4 boxes overlapping in a 2x2 corner -> union 28
      (0L, 0.0, 0.0, 4.0, 4.0), (0L, 2.0, 2.0, 6.0, 6.0),
      // gid 1: identical boxes -> union 16, sum 32
      (1L, 0.0, 0.0, 4.0, 4.0), (1L, 0.0, 0.0, 4.0, 4.0),
      // gid 2: disjoint boxes -> union = sum = 8
      (2L, 0.0, 0.0, 2.0, 2.0), (2L, 10.0, 10.0, 12.0, 12.0),
      // gid 3: box fully contained in another -> union = outer 36
      (3L, 0.0, 0.0, 6.0, 6.0), (3L, 2.0, 2.0, 4.0, 4.0))
      .toDF("gid", "x0", "y0", "x1", "y1")
    val r = graft.operators.Dissolve.dissolveUnionArea(parts, bucket = 10.0)
      .collect().map(x => x.getAs[Long]("gid") ->
        (x.getAs[Double]("sum_area"), x.getAs[Double]("union_area"))).toMap
    assert(r(0L) === ((32.0, 28.0)))
    assert(r(1L) === ((32.0, 16.0)))
    assert(r(2L) === ((8.0, 8.0)))
    assert(r(3L) === ((40.0, 36.0)))
  }

  test("dissolveRings: walk splits corner-touch, keeps concave rings simple") {
    import spark.implicits._
    val boxes = Seq(
      // gid 0: two squares corner-touching at (20,20) -> TWO simple rings
      (0L, 0.0, 0.0, 20.0, 20.0), (0L, 20.0, 20.0, 40.0, 40.0),
      // gid 1: disjoint squares -> two rings
      (1L, 0.0, 0.0, 10.0, 10.0), (1L, 50.0, 50.0, 60.0, 60.0),
      // gid 2: plus-shape from 5 squares -> ONE 12-vertex concave ring
      (2L, 20.0, 0.0, 40.0, 20.0), (2L, 0.0, 20.0, 20.0, 40.0),
      (2L, 20.0, 20.0, 40.0, 40.0), (2L, 40.0, 20.0, 60.0, 40.0),
      (2L, 20.0, 40.0, 40.0, 60.0))
      .toDF("pid", "x0", "y0", "x1", "y1").withColumn("gid", col("pid"))
    val out = graft.operators.Dissolve.dissolveRings(boxes, "gid")
      .collect()
      .groupBy(r => (r.getAs[Long]("gid"), r.getAs[Int]("ring")))
      .view.mapValues(_.sortBy(_.getAs[Int]("vi"))
        .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y"))).toSeq).toMap
    // corner-touch: two 4-vertex rings, no shared-vertex figure-eight
    assert(out((0L, 0)) ===
      Seq((0.0, 0.0), (0.0, 20.0), (20.0, 20.0), (20.0, 0.0)))
    assert(out((0L, 1)) ===
      Seq((20.0, 20.0), (20.0, 40.0), (40.0, 40.0), (40.0, 20.0)))
    assert(out((1L, 0)).length === 4 && out((1L, 1)).length === 4)
    // plus: one simple ring, 12 distinct vertices
    val plus = out((2L, 0))
    assert(!out.contains((2L, 1)))
    assert(plus.length === 12 && plus.distinct.length === 12)
    // every ring closes: last vertex is one axis-step from the first
    out.values.foreach { vs =>
      val (x0, y0) = vs.head; val (xn, yn) = vs.last
      assert((x0 == xn) != (y0 == yn))
    }
  }

  test("dissolveUnionRings: overlapping boxes merge into one ring; " +
    "frame-with-hole yields an inner ring") {
    import spark.implicits._
    val parts = Seq(
      // gid 0: two 4x4 boxes overlapping in a 2x2 corner -> ONE
      // 8-corner staircase ring (plus compressed-grid intermediate
      // vertices on the straight runs)
      (0L, 0.0, 0.0, 4.0, 4.0), (0L, 2.0, 2.0, 6.0, 6.0),
      // gid 1: four overlapping bars forming a frame -> outer ring +
      // inner hole ring
      (1L, 0.0, 0.0, 6.0, 1.0), (1L, 0.0, 5.0, 6.0, 6.0),
      (1L, 0.0, 0.0, 1.0, 6.0), (1L, 5.0, 0.0, 6.0, 6.0))
      .toDF("gid", "x0", "y0", "x1", "y1")
    val out = graft.operators.Dissolve
      .dissolveUnionRings(parts, bucket = 10.0)
      .collect()
      .groupBy(r => (r.getAs[Long]("gid"), r.getAs[Int]("ring")))
      .view.mapValues(_.sortBy(_.getAs[Int]("vi"))
        .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y"))).toSeq)
      .toMap
    // gid 0: exactly one ring whose CORNER set is the 8-vertex
    // staircase of the union (intermediate collinear vertices sit on
    // the compressed grid and are allowed)
    val r0 = out((0L, 0))
    assert(!out.contains((0L, 1)))
    def corners(vs: Seq[(Double, Double)]): Seq[(Double, Double)] =
      vs.indices.filter { i =>
        val (px, py) = vs((i - 1 + vs.length) % vs.length)
        val (cx, cy) = vs(i)
        val (nx, ny) = vs((i + 1) % vs.length)
        (px == cx) != (cx == nx) || (py == cy) != (cy == ny)
      }.map(vs)
    assert(corners(r0).toSet === Set(
      (0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (6.0, 2.0),
      (6.0, 6.0), (2.0, 6.0), (2.0, 4.0), (0.0, 4.0)))
    // gid 1: outer boundary ring + the 4x4 hole ring
    val rings1 = out.keys.filter(_._1 == 1L).toSeq.sorted
    assert(rings1.length === 2)
    val holeCorners = corners(out((1L, 1))).toSet
    val outerCorners = corners(out((1L, 0))).toSet
    assert(Set(outerCorners, holeCorners).contains(
      Set((0.0, 0.0), (6.0, 0.0), (6.0, 6.0), (0.0, 6.0))))
    assert(Set(outerCorners, holeCorners).contains(
      Set((1.0, 1.0), (5.0, 1.0), (5.0, 5.0), (1.0, 5.0))))
    // rings close: last vertex is one axis-step from the first
    out.values.foreach { vs =>
      val (x0, y0) = vs.head; val (xn, yn) = vs.last
      assert((x0 == xn) != (y0 == yn))
    }
  }

  test("wkt parsers work from a CSV source (read_spatialite analogue)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "geo.csv")
    java.nio.file.Files.writeString(f.toPath,
      """id|wkt
        |1|POINT (3.5 -2)
        |2|LINESTRING (0 0, 3 4, 6 8)
        |3|POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))
        |""".stripMargin)
    val df = spark.read.option("header", "true").option("sep", "|")
      .csv(dir.getAbsolutePath)
    val pt = df.filter(col("id") === "1")
      .select(Wkt.parsePoint(col("wkt")).as("p")).head()
    assert(pt.getStruct(0).getDouble(0) === 3.5)
    assert(pt.getStruct(0).getDouble(1) === -2.0)
    val len = df.filter(col("id") === "2")
      .select(graft.geom.Geom.lineLength(
        Wkt.parseLineString(col("wkt"))).as("l")).head().getDouble(0)
    assert(len === 10.0)
    val rings = df.filter(col("id") === "3")
      .select(size(Wkt.parseRings(col("wkt"))).as("n"),
        graft.geom.Geom.ringArea(Wkt.parseRings(col("wkt"))(0)).as("a"))
      .head()
    assert(rings.getInt(0) === 2)
    assert(rings.getDouble(1) === 16.0)
  }

  test("multimodal: features are deterministic and byte-length exact") {
    val media = Multimodal.mediaTable(Tables.load(spark, SfDir, "documents"))
    val a = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val b = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    val lens = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long"), length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.forall(f => f.n_bytes === lens(f.doc_id)))
  }

  test("match_lines plan: equi-join on cells, no cartesian product") {
    val plan = graft.queries.GeoExtQueries.qMatchLines(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }
  test("new-op plans: hash equi-joins only; kmeans assigns map-only") {
    // S-H area + union-area sweep: bucketed equi-joins, never a product
    for (q <- Seq(
        graft.queries.PolyQueries.qIntersectionAreaPoly(spark, SfDir),
        graft.queries.PolyQueries.qDissolveOverlap(spark, SfDir))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
    }
    // k-means: the final assignment is a pure projection calling the
    // IvfDistances kernel (the k x 4 centroid matrix rides inside the
    // expression) — no crossJoin, no broadcast, no aggregate, and the
    // whole stage is codegen'd
    val kplan = graft.queries.GeoExtQueries.qMatchLinesKmeans(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!kplan.contains("Join"))
    assert(kplan.contains("ivfdistances"))
    assert(kplan.contains("*(1) Project")) // inside whole-stage codegen
  }

  test("heavy-hitters plan: ONE corpus scan feeds sketch and exact " +
    "(conditional counters + bounded checkpoint)") {
    val plan = graft.queries.RetrievalQueries
      .qHeavyHittersCms(spark, SfDir)
      .queryExecution.executedPlan.toString
    // sketch cells AND exact probe counts come from a single grouping-
    // sets aggregate, materialized once (bounded-size localCheckpoint)
    // during query construction: the final plan reads the checkpointed
    // rows and never touches the documents parquet again
    assert("Scan parquet".r.findAllIn(plan).size === 0, plan.take(2000))
    assert(plan.contains("ExistingRDD")) // both branches read the cut
  }

  test("round-4 plans: decontaminate broadcasts the benchmark set; " +
    "general clip joins on cells; packing shuffles once on lang") {
    // decontaminate: the benchmark shingle set is the broadcast side of
    // a hash join — the corpus never shuffles against it
    val dplan = graft.queries.DedupQueries.qDecontaminate(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(dplan.contains("BroadcastHashJoin"))
    assert(!dplan.contains("CartesianProduct"))
    // general intersection: bucketed equi-join, never a product
    val gplan = graft.queries.PolyQueries
      .qIntersectionAreaGeneral(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!gplan.contains("CartesianProduct"))
    assert(!gplan.contains("BroadcastNestedLoopJoin"))
    // packing: the lang-partitioned window's exchange also serves the
    // (lang, bin) aggregation — exactly one shuffle in the whole plan
    val pplan = graft.queries.CurationQueries.qPackSequences(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(pplan).size === 1)
  }

  test("two-level packing plan: heavy window partitions by (lang, shard); " +
    "results conserve tokens") {
    val q = graft.queries.CurationQueries.qPackSequencesSharded(spark, SfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the document-volume window runs at per-lang parallelism = Shards:
    // its sort/window keys are (lang, shard), not lang alone
    assert(plan.contains("windowspecdefinition(lang"))
    assert("hashpartitioning\\(lang[^,]*, shard".r.findAllIn(plan).nonEmpty)
    val rows = q.collect()
    // every language's docs are packed at shard parallelism: closed bins
    // carry a real shard id, merged remainders shard = -1
    val shards = rows.map(_.getAs[Int]("shard")).distinct
    assert(shards.count(_ >= 0) > 1)
    // token conservation vs the single-level twin (same corpus mass)
    val single = graft.queries.CurationQueries.qPackSequences(spark, SfDir)
      .agg(sum("sum_tokens")).head().getLong(0)
    val sharded = q.agg(sum("sum_tokens")).head().getLong(0)
    assert(single === sharded)
  }

  test("WAV codec: encode/decode round-trip, chunk skip, malformed input") {
    import graft.operators.Multimodal
    // round-trip: decoded stats equal the synth parameters, computed
    // independently here
    val d = 42L
    val n = (256 + d % 256).toInt
    val samples = (0 until n).map(i => (((d * 31 + i * 17) % 2003) - 1001))
    val (ns, sr, ss, pk) = Multimodal.decodeWav(Multimodal.synthWavBytes(d))
    assert(ns === n.toLong)
    assert(sr === 8000L)
    assert(ss === samples.map(s => s * s).sum)
    assert(pk === samples.map(math.abs).max)
    // a real decoder walks chunks: splice an unknown chunk BEFORE data
    // and the parse must skip it by declared length
    val base = Multimodal.synthWavBytes(d)
    val extra = java.nio.ByteBuffer.allocate(base.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(base, 0, 36) // RIFF..fmt chunk end
    extra.put("LIST".getBytes("US-ASCII")).putInt(4)
      .put("INFO".getBytes("US-ASCII"))
    extra.put(base, 36, base.length - 36) // data chunk
    val withChunk = extra.array()
    // fix the RIFF length field for the added 12 bytes
    java.nio.ByteBuffer.wrap(withChunk)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, withChunk.length - 8)
    assert(Multimodal.decodeWav(withChunk) === ((ns, sr, ss, pk)))
    // malformed inputs fail loudly, not silently
    val notRiff = base.clone(); notRiff(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeWav(notRiff)).getMessage.contains("RIFF"))
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeWav(base.take(10))).getMessage.contains("truncated"))
    // a fmt chunk claiming stereo is rejected
    val stereo = base.clone()
    stereo(22) = 2 // channels field
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeWav(stereo)).getMessage.contains("mono"))
  }

  test("BMP codec: round-trip across padding widths, resize, malformed") {
    import graft.operators.Multimodal
    // widths 8..16 cover all four row-padding cases (pad 0,1,2,3)
    for (d <- 0L to 8L) {
      val img = Multimodal.decodeBmp(Multimodal.synthBmpBytes(d))
      val w = (8 + d % 9).toInt
      val h = (8 + d % 5).toInt
      assert(img.width === w && img.height === h)
      // spot-check pixels at corners against the synth formulas
      for ((x, y) <- Seq((0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1))) {
        val base = (y * w + x) * 3
        assert(img.rgb(base) === ((d * 3 + x * 29 + y * 23) % 256).toInt)
        assert(img.rgb(base + 1) === ((d * 11 + x * 17 + y * 5) % 256).toInt)
        assert(img.rgb(base + 2) === ((d * 7 + x * 13 + y * 31) % 256).toInt)
      }
      // resize samples exactly the even coordinates
      val small = Multimodal.resizeNearest(img, 2)
      assert(small.width === w / 2 && small.height === h / 2)
      assert(small.rgb(0) === img.rgb(0))
      assert(small.rgb(3) === img.rgb(2 * 3)) // out(1,0) = in(2,0)
    }
    val ok = Multimodal.synthBmpBytes(7L)
    val notBm = ok.clone(); notBm(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeBmp(notBm)).getMessage.contains("BM"))
    val bits8 = ok.clone(); bits8(28) = 8 // bitCount field
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeBmp(bits8)).getMessage.contains("24-bit"))
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeBmp(ok.take(53))).getMessage.contains("truncated"))
    val shortPix = ok.take(ok.length - 4) // pixel data cut short
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeBmp(shortPix)).getMessage.contains("out of bounds"))
  }

  test("MP4 codec: box tree, sample table, frame sampling, malformed") {
    import graft.operators.Multimodal
    def idx(buf: Array[Byte], fourcc: String): Int = {
      val pat = fourcc.getBytes("US-ASCII")
      buf.indices.indexWhere(i => i + 4 <= buf.length &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(buf, i, i + 4), pat))
    }
    // round-trip at every sample-count residue (3..8 samples, odd and
    // even — odd counts exercise the short-last-chunk stsc entry)
    for (d <- 0L to 5L) {
      val n = (3 + d % 6).toInt
      val all = Multimodal.decodeMp4Frames(
        d, Multimodal.synthMp4Bytes(d), everyN = 1).toSeq
      assert(all.map(_.sample_idx) === (0 until n).map(_.toLong))
      assert(all.forall(_.duration_ms === n * 40L))
      all.foreach { fr =>
        val id2 = d + 7L * fr.sample_idx
        val img = Multimodal.decodeBmp(Multimodal.synthBmpBytes(id2))
        assert(fr.width === img.width.toLong
          && fr.height === img.height.toLong)
        val sums = img.rgb.grouped(3).toSeq
        assert(fr.sum_r === sums.map(_(0).toLong).sum)
        assert(fr.sum_g === sums.map(_(1).toLong).sum)
        assert(fr.sum_b === sums.map(_(2).toLong).sum)
      }
      // frame sampling takes exactly the even sample indices
      val sampled = Multimodal.decodeMp4Frames(
        d, Multimodal.synthMp4Bytes(d), everyN = 2).toSeq
      assert(sampled.map(_.sample_idx) ===
        (0 until n).filter(_ % 2 == 0).map(_.toLong))
    }
    val ok = Multimodal.synthMp4Bytes(9L)
    // an unknown top-level box after mdat is skipped by declared size
    val free = java.nio.ByteBuffer.allocate(12).putInt(12)
      .put("free".getBytes("US-ASCII")).putInt(0).array()
    assert(Multimodal.decodeMp4Frames(9L, ok ++ free, 1).size ===
      Multimodal.decodeMp4Frames(9L, ok, 1).size)
    // the chunk map is load-bearing: nudge the first stco offset and
    // the sliced bytes are no longer a BMP (or fall outside mdat)
    val badStco = ok.clone()
    badStco(idx(badStco, "stco") + 15) = (badStco(idx(badStco, "stco") + 15) + 1).toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeMp4Frames(9L, badStco, 1).toSeq).getMessage
      .matches(".*(bmp|mp4).*"))
    // a foreign sample-entry fourcc is rejected, not mis-decoded
    val badEntry = ok.clone()
    val ei = idx(badEntry, "gbmp")
    "xxxx".getBytes("US-ASCII").copyToArray(badEntry, ei)
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeMp4Frames(9L, badEntry, 1).toSeq).getMessage
      .contains("sample entry"))
    // ftyp must lead; truncation fails loudly
    val noFtyp = ok.clone()
    "xxxx".getBytes("US-ASCII").copyToArray(noFtyp, 4)
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeMp4Frames(9L, noFtyp, 1).toSeq).getMessage
      .contains("ftyp"))
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeMp4Frames(9L, ok.take(ok.length - 3), 1).toSeq)
      .getMessage.contains("mp4"))
  }

  test("MP3 walker: VBR frames, ID3 skip, spec lengths, malformed") {
    import graft.operators.Multimodal
    // round-trip across all sample-rate and frame-count residues,
    // checked against the spec tables computed independently here
    val kbpsTab = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
      192, 224, 256, 320)
    for (d <- 0L to 5L) {
      val n = (4 + d % 5).toInt
      val sr = Array(44100, 48000, 32000)((d % 3).toInt)
      val kbps = (0 until n).map(i => kbpsTab((1 + (d + i) % 14).toInt))
      val bytes = 42 + (0 until n).map(i =>
        144 * kbps(i) * 1000 / sr + ((d + i) % 2).toInt).sum
      val (nf, srOut, sumK, nb) = Multimodal.walkMp3(
        Multimodal.synthMp3Bytes(d))
      assert(nf === n.toLong)
      assert(srOut === sr.toLong)
      assert(sumK === kbps.sum.toLong)
      assert(nb === bytes.toLong)
    }
    val ok = Multimodal.synthMp3Bytes(3L)
    // ID3 skip is by syncsafe length: grow the tag and the walker must
    // still land exactly on the first frame header
    // (synth uses 32; hand-build a 200-byte tag around the same frames)
    val frames = ok.drop(42)
    val bigTag = new Array[Byte](10 + 200)
    "ID3".getBytes("US-ASCII").copyToArray(bigTag)
    bigTag(3) = 3; bigTag(8) = (200 >> 7).toByte; bigTag(9) = (200 & 0x7f).toByte
    assert(Multimodal.walkMp3(bigTag ++ frames)._1 ===
      Multimodal.walkMp3(ok)._1)
    // malformed inputs fail loudly
    val badSync = ok.clone(); badSync(42) = 0x12
    assert(intercept[IllegalArgumentException](
      Multimodal.walkMp3(badSync)).getMessage.contains("sync"))
    val freeBr = ok.clone(); freeBr(44) = (freeBr(44) & 0x0f).toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.walkMp3(freeBr)).getMessage.contains("bitrate"))
    assert(intercept[IllegalArgumentException](
      Multimodal.walkMp3(ok.take(ok.length - 5)))
      .getMessage.matches(".*(truncated|garbage).*"))
  }

  test("MP3 spectral decode: coded roundtrip recovers the requantize " +
    "formula on butterfly-free lines; granule count; tampering caught") {
    import graft.operators.Mp3
    for (d <- 0L to 5L) {
      val grs = Mp3.decodeMp3Spectral(Mp3.synthMp3Coded(d))
      assert(grs.length === 2 * Mp3.synthNFrames(d))
      for (gr <- grs) {
        val gg = Mp3.synthGain(d, gr.frame, gr.granule)
        val sfs = Mp3.synthSfScale(d)
        // lines 0..9 are untouched by the alias butterflies (they act
        // on lines 10..25 and 28..43), so the decoded spectrum there
        // must equal the closed-form requantization EXACTLY (same
        // double ops in the same order)
        for (i <- 0 until 10) {
          val v = Mp3.synthIs(d, gr.frame, gr.granule, i)
          val sf = Mp3.synthSf(d, gr.granule, i / 4)
          val want = math.signum(v.toDouble) *
            math.pow(math.abs(v).toDouble, 4.0 / 3.0) *
            math.pow(2.0, (gg - 210) / 4.0) *
            math.pow(2.0, -(1.0 + sfs) * sf)
          assert(gr.xa(i) === want, s"d=$d f=${gr.frame} g=${gr.granule} i=$i")
        }
        // everything above the aliased region is silent
        assert((44 until 576).forall(gr.xa(_) === 0.0))
      }
    }
    // part2_3_length is enforced: corrupting a Huffman byte desyncs the
    // bit count and the decoder must refuse (byte 21+3 sits in granule
    // 0's big_values run)
    val ok = Mp3.synthMp3Coded(1L)
    val bad = ok.clone(); bad(24) = (bad(24) ^ 0x55).toByte
    assert(intercept[IllegalArgumentException](
      Mp3.decodeMp3Spectral(bad)).getMessage.contains("part2_3"))
  }

  test("MP3 polyphase synthesis: V-FIFO dataflow equals the direct lag " +
    "algebra bit-for-bit; zero input is silence; PCM rows per granule") {
    import graft.operators.Mp3
    // deterministic subband sequence, 3 nonzero subbands like the corpus
    val steps = (0 until 40).map(t => Array.tabulate(3)(k =>
      (((t * 31 + k * 17) % 23) - 11) / 7.0))
    val fifo = new Mp3.SynthFifo
    val got = steps.map(fifo.step)
    // independent implementation: the algebraraic reduction of the
    // FIFO/U-extraction (the form the DuckDB oracle replays)
    def pvec(s: Array[Double]): Array[Double] = Array.tabulate(64) { r =>
      var acc = 0.0
      for (k <- 0 until 3)
        acc += math.cos(math.Pi / 64.0 * (16 + r) * (2 * k + 1)) * s(k)
      acc
    }
    val ps = steps.map(pvec)
    for (t <- steps.indices) {
      val want = Array.tabulate(32) { j =>
        var acc = 0.0
        for (a <- 0 until 8) {
          val even = if (t - 2 * a >= 0) ps(t - 2 * a)(j) else 0.0
          val odd =
            if (t - 2 * a - 1 >= 0) ps(t - 2 * a - 1)(32 + j) else 0.0
          acc += Mp3.SynthD(64 * a + j) * even +
            Mp3.SynthD(64 * a + 32 + j) * odd
        }
        acc
      }
      for (j <- 0 until 32)
        assert(got(t)(j) === want(j), s"t=$t j=$j")
    }
    // silence in, silence out (fresh FIFO)
    val quiet = new Mp3.SynthFifo
    for (_ <- 0 until 20)
      assert(quiet.step(new Array[Double](3)).forall(_ == 0.0))
    // DF path: one row per granule, deterministic, audibly nonzero
    import spark.implicits._
    val docs = (0L to 5L).toDF("doc_id")
    val a = graft.operators.Mp3.mp3PcmFeatures(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2))
    val b = graft.operators.Mp3.mp3PcmFeatures(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2))
    assert(a.toSeq === b.toSeq)
    val wantRows = (0L to 5L).map(d => 2 * Mp3.synthNFrames(d)).sum
    assert(a.length === wantRows)
    assert(a.exists(_._3 > 0.0))
  }

  test("H.264: emulation prevention round-trips, exp-Golomb negatives, " +
    "parse recovers every analytic field, malformed streams are loud") {
    import graft.operators.H264
    // EPB escape/unescape round trip over adversarial byte patterns
    val patterns = Seq(
      Array[Byte](0, 0, 0), // needs one escape
      Array[Byte](0, 0, 1, 0, 0, 2, 0, 0, 3), // all three trigger bytes
      Array[Byte](0, 0, 0, 0, 0), // overlapping zero runs
      Array[Byte](-1, 0, 0), // trailing 00 00 without trigger: no escape
      Array.tabulate(64)(i => (i % 5).toByte))
    for (p <- patterns) {
      val (esc, n) = H264.escapeRbsp(p)
      // escaped form never contains 00 00 0x for x <= 2
      for (i <- 0 until esc.length - 2)
        assert(!(esc(i) == 0 && esc(i + 1) == 0 && (esc(i + 2) & 0xFF) <= 2))
      val (back, m) = H264.unescapeRbsp(esc)
      assert(back.toSeq === p.toSeq && m === n)
    }
    // generation guard + full parse over a doc_id sweep: every field
    // matches its analytic formula (incl. the negative se(v) qp range)
    for (d <- 0L to 300L) {
      val f = H264.decodeH264(d, H264.synthH264Bytes(d))
      val ns = 3 + d % 5
      assert(f.n_nals === 2 + ns)
      assert(f.width === (2 + d % 9) * 16)
      assert(f.height === (2 + d % 5) * 16)
      assert(f.level_idc === 10 + (d % 4) * 10)
      assert(f.init_qp === 20 + d % 16)
      assert(f.n_slices === ns && f.n_idr === 1L)
      assert(f.sum_frame_num === ns * (ns - 1) / 2)
      assert(f.n_epb === (d % 4) * ns)
    }
    // malformed streams fail loudly, not silently
    val good = H264.synthH264Bytes(7L)
    intercept[IllegalArgumentException] {
      H264.decodeH264(7L, good.take(3)) // no start code
    }
    val badProfile = good.clone
    badProfile(5) = 0x4D.toByte // profile 77 != baseline literal
    intercept[IllegalArgumentException] {
      H264.decodeH264(7L, badProfile)
    }
  }

  test("H.264 macroblock layer: CAVLC roundtrip recovers every analytic " +
    "(tc, lvl, pos), nC/prediction contexts chain, all level tiers " +
    "occur, reconstruction is the spec arithmetic, tampering is loud") {
    import graft.operators.H264
    // independent reconstruction replica (own tables) for the check
    val zz = Array((0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3),
      (1, 2), (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2),
      (3, 3))
    val h = Array(Array(1, 1, 1, 1), Array(1, 1, -1, -1),
      Array(1, -1, -1, 1), Array(1, -1, 1, -1))
    val lsc = Array(10, 11, 13, 14, 16, 18)
    val levelsSeen = scala.collection.mutable.Set.empty[Long]
    for (d <- 0L to 120L) {
      val w = 2 + d % 9
      val qp = (20 + d % 16).toInt
      val rows = H264.decodeH264Mb(d, H264.synthH264MbBytes(d))
      assert(rows.length === w * (2 + d % 5))
      val byKey = rows.map(r => ((r.mby, r.mbx), r)).toMap
      for (r <- rows) {
        val idx = r.mby * w + r.mbx
        // parsed values == generator arithmetic (bitstream roundtrip)
        val tc = if ((d + idx) % 5 == 0) 0L else 1L
        assert(r.tc === tc)
        val base = (d + idx * 3) % 24
        val sgn = if ((d + idx) % 2 == 0) 1L else -1L
        val lvl = if (tc == 0) 0L
          else if (base % 4 == 0) sgn else sgn * (2 + base * 3)
        assert(r.lvl === lvl)
        assert(r.pos === (if (tc == 0) 0L else (d + idx * 7) % 16))
        levelsSeen += math.abs(lvl)
        // CAVLC nC: left neighbor's TotalCoeff, 0 at the row start
        // (top is always another slice => unavailable)
        val left = byKey.get((r.mby, r.mbx - 1))
        assert(r.n_c === left.map(_.tc).getOrElse(0L))
        // DC prediction chain: 128 at row start, else the left MB's
        // reconstructed right column (mean + 8 >> 4)
        val pred = left.map(l => (4 * l.rc_sum + 8) >> 4).getOrElse(128L)
        assert(r.pred === pred)
        // spec reconstruction replayed with this test's own tables
        val (pr, pc) = zz(r.pos.toInt)
        var sum16 = 0L; var rc = 0L
        for (i <- 0 until 4; j <- 0 until 4) {
          val f = r.lvl * h(i)(pr) * h(j)(pc)
          val dcy = (f * lsc(qp % 6) + (1L << (5 - qp / 6))) >> (6 - qp / 6)
          val v = math.max(0L, math.min(255L, pred + ((dcy + 32) >> 6)))
          sum16 += v
          if (j == 3) rc += v
        }
        assert(r.recon_sum === sum16 && r.rc_sum === rc)
      }
    }
    // the constrained corpus still exercises every CAVLC level path:
    // empty block, trailing-one (±1), level_prefix<14 (mag<=8), the
    // 14+4-bit tier (9..16) and the 15+12-bit escape tier (17+)
    assert(levelsSeen.contains(0L) && levelsSeen.contains(1L))
    assert(levelsSeen.exists(m => m >= 2 && m <= 8))
    assert(levelsSeen.exists(m => m >= 9 && m <= 16))
    assert(levelsSeen.exists(_ >= 17))
    // a tampered slice payload fails loudly (full-bit accounting:
    // stop bit + zero pad are checked after the last macroblock)
    val good = H264.synthH264MbBytes(7L)
    val bad = good.clone
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x01).toByte
    intercept[IllegalArgumentException] {
      H264.decodeH264Mb(7L, bad)
    }
  }

  test("WKB: golden bytes both endian, multipolygon, writer layout, malformed") {
    import spark.implicits._
    import graft.sources.Wkb
    def hex(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte)
        .toArray
    def ringsOf(bin: Array[Byte]): Seq[Seq[(Double, Double)]] = {
      val row = Seq(bin).toDF("b")
        .select(Wkb.parseRings(col("b")).as("r")).head()
      row.getAs[scala.collection.Seq[scala.collection.Seq[
        org.apache.spark.sql.Row]]](0)
        .map(_.map(r => (r.getDouble(0), r.getDouble(1))).toSeq).toSeq
    }
    // golden XDR (big-endian) POINT (1 2) — hand-written per OGC spec
    assert(ringsOf(hex("00 00000001 3FF0000000000000 4000000000000000"))
      === Seq(Seq((1.0, 2.0))))
    // golden NDR (little-endian) LINESTRING (1 2, 3 4)
    assert(ringsOf(hex("01 02000000 02000000" +
      " 000000000000F03F 0000000000000040" +
      " 0000000000000840 0000000000001040"))
      === Seq(Seq((1.0, 2.0), (3.0, 4.0))))
    // golden NDR MULTIPOLYGON of two single-ring triangles: rings
    // concatenate in document order (Wkt.parseRings convention)
    val tri1 = "01 03000000 01000000 03000000" +
      " 0000000000000000 0000000000000000" +
      " 000000000000F03F 0000000000000000" +
      " 0000000000000000 000000000000F03F"
    val tri2 = "00 00000003 00000001 00000003" + // second part big-endian
      " 4010000000000000 0000000000000000" +
      " 4014000000000000 0000000000000000" +
      " 4010000000000000 3FF0000000000000"
    assert(ringsOf(hex("01 06000000 02000000" + tri1 + tri2))
      === Seq(Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0)),
        Seq((4.0, 0.0), (5.0, 0.0), (4.0, 1.0))))
    // writer golden bytes: one-ring polygon, both byte orders, and
    // write -> parse identity
    val ring = Seq(Seq((0.0, 0.0), (2.0, 0.0), (0.0, 3.0)))
    val rdf = Seq(1).toDF("i").select(typedLit(ring).as("r"))
    val ndrBytes = rdf.select(Wkb.writePolygon(col("r"), lit(true))).head()
      .getAs[Array[Byte]](0)
    assert(ndrBytes === hex("01 03000000 01000000 03000000" +
      " 0000000000000000 0000000000000000" +
      " 0000000000000040 0000000000000000" +
      " 0000000000000000 0000000000000840"))
    val xdrBytes = rdf.select(Wkb.writePolygon(col("r"), lit(false))).head()
      .getAs[Array[Byte]](0)
    assert(xdrBytes === hex("00 00000003 00000001 00000003" +
      " 0000000000000000 0000000000000000" +
      " 4000000000000000 0000000000000000" +
      " 0000000000000000 4008000000000000"))
    assert(ringsOf(ndrBytes) === ring && ringsOf(xdrBytes) === ring)
    // malformed: bad order byte, unsupported type, truncated ring,
    // trailing garbage
    def fails(b: Array[Byte], msg: String): Unit = {
      val e = intercept[Throwable](ringsOf(b))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains(msg))
    }
    fails(hex("02 00000001"), "byte order")
    fails(hex("00 00000007"), "unsupported type")
    fails(hex("01 02000000 05000000 000000000000F03F"), "out of bounds")
    fails(hex("00 00000001 3FF0000000000000 4000000000000000 FF"),
      "trailing")
  }

  test("PNG codec: round-trip through zlib + all five filters, CRC, malformed") {
    import graft.operators.Multimodal
    // heights 9..14 guarantee every doc's rows cycle through ALL FIVE
    // filter types (row y uses y % 5); every pixel is checked, so each
    // unfilter path (None/Sub/Up/Average/Paeth) is fully exercised
    for (d <- 0L to 9L) {
      val img = Multimodal.decodePng(Multimodal.synthPngBytes(d))
      val w = (12 + d % 7).toInt
      val h = (9 + d % 6).toInt
      assert(img.width === w && img.height === h)
      for (y <- 0 until h; x <- 0 until w) {
        val base = (y * w + x) * 3
        assert(img.rgb(base) === ((d * 5 + x * 19 + y * 37) % 256).toInt)
        assert(img.rgb(base + 1) === ((d * 23 + x * 7 + y * 11) % 256).toInt)
        assert(img.rgb(base + 2) === ((d * 13 + x * 3 + y * 29) % 256).toInt)
      }
    }
    val ok = Multimodal.synthPngBytes(5L)
    val badSig = ok.clone(); badSig(1) = 'X'.toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.decodePng(badSig)).getMessage.contains("signature"))
    // flip one byte inside the first IDAT chunk's data: CRC must catch it
    val crcBroken = ok.clone()
    val firstIdat = {
      var i = 8
      var at = -1
      while (at < 0) {
        val len = java.nio.ByteBuffer.wrap(crcBroken, i, 4).getInt
        val typ = new String(crcBroken, i + 4, 4, "US-ASCII")
        if (typ == "IDAT") at = i + 8 else i += 12 + len
      }
      at
    }
    crcBroken(firstIdat) = (crcBroken(firstIdat) ^ 0x41).toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.decodePng(crcBroken)).getMessage.contains("CRC"))
    assert(intercept[IllegalArgumentException](
      Multimodal.decodePng(ok.take(15))).getMessage.contains("truncated"))
    assert(intercept[IllegalArgumentException](
      Multimodal.decodePng(ok.take(20))).getMessage.contains("chunk length"))
  }

  test("JPEG codec: DC-exact round-trip, lossy AC path, restarts, malformed") {
    import graft.operators.Jpeg
    // constant-per-block corpus images decode BIT-exactly (DC-only
    // blocks, even values, Q[0][0]=16 — see Jpeg.scala header)
    for (d <- 0L to 19L) {
      val img = Jpeg.synthPlanes(d)
      val dec = Jpeg.decode(Jpeg.synthJpegBytes(d))
      assert(dec.width === Jpeg.jpegW(d) && dec.height === Jpeg.jpegH(d))
      assert(dec.yPlane.toSeq === img.yPlane.toSeq)
      assert(dec.cbPlane.toSeq === img.cbPlane.toSeq)
      assert(dec.crPlane.toSeq === img.crPlane.toSeq)
    }
    // the general lossy path: a gradient image has nonzero quantized AC
    // coefficients in every block; encode emits real (run,size) symbols
    // and decode must land within the quantization error envelope
    val w = 23; val h = 19
    def grad(c: Int) = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      math.min(255, x * 11 + y * 5 + c * 7)
    }
    val gimg = Jpeg.JpegImage(w, h, grad(0), grad(1), grad(2))
    val genc = Jpeg.encode(gimg)
    val gdec = Jpeg.decode(genc)
    var maxErr = 0
    for (i <- 0 until w * h)
      maxErr = math.max(maxErr, math.abs(gdec.yPlane(i) - gimg.yPlane(i)))
    assert(maxErr > 0)     // it IS lossy — AC was exercised
    assert(maxErr <= 8)    // and bounded by the quant tables
    // restart markers really are in the stream (RST0.. = FFD0..FFD7)
    val rsts = genc.sliding(2).count(p =>
      (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) >= 0xD0 && (p(1) & 0xFF) <= 0xD7)
    val nMcus = ((w + 7) / 8) * ((h + 7) / 8)
    assert(rsts === (nMcus - 1) / Jpeg.RestartInterval) // 9 MCUs -> 2
    // 4:2:0: interleaved 16x16 MCUs, chroma subsampled then upsampled —
    // bit-exact for the constant-region corpus (chroma per 16x16)
    for (d <- 0L to 9L) {
      val img = Jpeg.synthPlanes420(d)
      val dec = Jpeg.decode(Jpeg.synthJpeg420Bytes(d))
      assert(dec.yPlane.toSeq === img.yPlane.toSeq)
      assert(dec.cbPlane.toSeq === img.cbPlane.toSeq)
      assert(dec.crPlane.toSeq === img.crPlane.toSeq)
    }
    // the 4:2:0 file really is smaller: 6 blocks per 16x16 vs 12
    assert(Jpeg.synthJpeg420Bytes(3L).length < Jpeg.synthJpegBytes(3L).length)
    // and the lossy gradient survives subsampling within a looser bound
    // (chroma is both quantized AND box-averaged)
    val gdec420 = Jpeg.decode(Jpeg.encode420(gimg))
    var maxErr420 = 0
    for (i <- 0 until w * h)
      maxErr420 = math.max(maxErr420,
        math.abs(gdec420.yPlane(i) - gimg.yPlane(i)))
    assert(maxErr420 <= 8) // Y is NOT subsampled: same envelope as 4:4:4
    // malformed input fails loudly
    val ok = Jpeg.synthJpegBytes(3L)
    val noSoi = ok.clone(); noSoi(1) = 0x00
    assert(intercept[IllegalArgumentException](
      Jpeg.decode(noSoi)).getMessage.contains("SOI"))
    assert(intercept[IllegalArgumentException](
      Jpeg.decode(ok.take(40))).getMessage.contains("truncated"))
    // flip the SOF0 marker to progressive (SOF2): baseline-only decoder
    val prog = ok.clone()
    var i = 2
    var done = false
    while (!done) {
      if ((prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0) {
        prog(i + 1) = 0xC2.toByte; done = true
      } else i += 1
    }
    assert(intercept[IllegalArgumentException](
      Jpeg.decode(prog)).getMessage.contains("baseline"))
  }

  test("GVID container: frame sampling, frame content, malformed input") {
    import graft.operators.Multimodal
    val d = 5L
    val n = (4 + d % 8).toInt
    val clip = Multimodal.synthVideoBytes(d)
    val sampled = Multimodal.decodeVideoFrames(d, clip, 2).toSeq
    assert(sampled.map(_.frame_idx) === (0 until n).filter(_ % 2 == 0)
      .map(_.toLong))
    // each sampled frame's features equal a direct decode of the same
    // synthetic image id (real BMP bytes, not the formulas)
    sampled.foreach { ff =>
      val img = Multimodal.decodeBmp(
        Multimodal.synthBmpBytes(d * 45 + ff.frame_idx * 45))
      assert((ff.width, ff.height) === ((8L, 8L)))
      assert(img.width === 8 && img.height === 8)
      assert(ff.sum_r === img.rgb.grouped(3).map(_(0).toLong).sum)
    }
    val badMagic = clip.clone(); badMagic(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeVideoFrames(d, badMagic, 2).toSeq)
      .getMessage.contains("magic"))
    assert(intercept[IllegalArgumentException](
      Multimodal.decodeVideoFrames(d, clip.take(clip.length - 1), 2).toSeq)
      .getMessage.contains("out of bounds"))
  }

  test("keyframe selection recovers exactly the scene cut positions") {
    import graft.operators.Multimodal
    import spark.implicits._
    for (d <- Seq(0L, 7L, 13L, 42L)) {
      val rows = Multimodal.videoKeyframes(Seq(d).toDF("doc_id"))
        .collect().sortBy(_.getAs[Long]("frame_idx"))
      val nFrames = (12 + d % 6).toInt
      val sceneLen = (3 + d % 3).toInt
      assert(rows.length === nFrames)
      // independent truth: the generator starts a scene at every
      // multiple of sceneLen — the detector (real byte decode + L1
      // diff, no knowledge of the formula) must recover exactly those
      val detected = rows.filter(_.getAs[Boolean]("is_keyframe"))
        .map(_.getAs[Long]("frame_idx")).toSet
      val truth = (0 until nFrames).filter(_ % sceneLen == 0)
        .map(_.toLong).toSet
      assert(detected === truth, s"doc $d")
      assert(rows.head.getAs[Long]("n_keyframes") === truth.size.toLong)
      // within a scene, consecutive frames are byte-identical: diff 0
      rows.filter(r => r.getAs[Long]("frame_idx") % sceneLen != 0)
        .foreach(r => assert(r.getAs[Long]("diff_metric") === 0L))
    }
  }

  test("TopKAgg == row_number window: selection, order, null keys, ties") {
    import spark.implicits._
    // keys with duplicates (tie-break on id), a null key (skipped), and
    // more rows than k per group
    val rows = Seq(
      (1L, Some(3.0), 10L), (1L, Some(1.0), 11L), (1L, Some(1.0), 9L),
      (1L, None, 1L), (1L, Some(2.0), 12L), (1L, Some(0.5), 13L),
      (2L, Some(7.0), 20L), (2L, None, 21L),
      (3L, None, 30L) // all-null group: must vanish entirely
    ).toDF("g", "key", "id")
    val viaAgg = rows.groupBy("g")
      .agg(graft.functions.TopKAgg(col("key"), col("id"), col("id"), 3)
        .as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("g"), (col("pos") + 1).as("rk"),
        col("t.key").as("key"), col("t.tie").as("id"),
        col("t.payload").as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("key").asc_nulls_last, col("id"))
    val viaWin = rows
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("key").isNotNull)
      .select(col("g"), col("rk"), col("key"), col("id"),
        col("id").as("p"))
    assert(viaAgg.exceptAll(viaWin).count() === 0)
    assert(viaWin.exceptAll(viaAgg).count() === 0)
  }

  test("autoCellTenths: closed form, density scaling, match output parity") {
    import spark.implicits._
    import graft.operators.MatchLines
    // layer engineered so the rule lands exactly on the hand-tuned 30:
    // extent 60 tenths, 540 lines -> round(60 / sqrt(540/135)) = 30
    def layer(nLines: Int, spread: Int) = (0 until nLines).flatMap { lid =>
      (0 until 3).map(s => (lid.toLong, s,
        ((lid * 7919) % spread + s).toLong, ((lid * 104729) % spread + s).toLong))
    }.toDF("lid", "seq", "xi", "yi")
    val base = MatchLines.linesAgg(layer(540, 60))
    val auto = MatchLines.autoCellTenths(base)
    // centroids of 3 consecutive offsets span ~spread, extent = max-min+1
    assert(auto === math.round(
      ((0 until 540).map(l => (3 * ((l * 7919) % 60) + 3) / 3.0).max -
       (0 until 540).map(l => (3 * ((l * 7919) % 60) + 3) / 3.0).min + 1)
        / math.sqrt(540 / 135.0)).toInt)
    // density scaling: 4x the lines in the same extent -> cell halves
    val auto4 = MatchLines.autoCellTenths(MatchLines.linesAgg(layer(2160, 60)))
    assert(math.abs(auto4 * 2 - auto) <= 1)
    // engine behavior == explicit cell: the auto-sized match output is
    // identical to passing the computed constant by hand
    val probe = MatchLines.withCells(base, auto).filter(col("lid") % 4 === 0)
    val target = MatchLines.withCells(base, auto).filter(col("lid") % 4 =!= 0)
    val got = MatchLines.matchByHausdorff(probe, target, beam = 5)
    val explicitLines = MatchLines.linesWithCells(layer(540, 60), auto)
    val want = MatchLines.matchByHausdorff(
      explicitLines.filter(col("lid") % 4 === 0),
      explicitLines.filter(col("lid") % 4 =!= 0), beam = 5)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    assert(got.count() > 0)
  }

  test("CellBeam digest beam == row-per-candidate window beam") {
    import spark.implicits._
    // synthetic layer: 40 probe lines x 200 targets in a handful of
    // cells, with proxy ties (same centroid) to exercise the lb
    // tie-break, and a probe whose neighborhood is empty
    val verts = (0 until 240).flatMap { lid =>
      val base = (lid * 37) % 120
      (0 until 3).map(s => (lid.toLong, s, (base * 10 + s * 7).toLong,
        ((lid % 5) * 40 + s * 3).toLong))
    }.toDF("lid", "seq", "xi", "yi")
    val lines = graft.operators.MatchLines.linesWithCells(verts, 12)
    val probe = lines.filter(col("lid") < 40)
    val target = lines.filter(col("lid") >= 40)
    val got = graft.operators.MatchLines
      .matchByHausdorff(probe, target, beam = 7)
    // reference: enumerate every 3x3-cell candidate row, window top-7 by
    // (exact proxy, lb), then the same hausdorff argmin
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val a = probe.select(col("lid").as("la"), col("n").as("na"),
      col("sx").as("sxa"), col("sy").as("sya"), col("pts").as("pa"),
      col("cx"), col("cy"), explode(offsets).as("o"))
      .select(col("la"), col("na"), col("sxa"), col("sya"), col("pa"),
        (col("cx") + col("o.dx")).as("jx"),
        (col("cy") + col("o.dy")).as("jy"))
    val b = target.select(col("lid").as("lb"), col("n").as("nb"),
      col("sx").as("sxb"), col("sy").as("syb"), col("pts").as("pb"),
      col("cx").as("jx"), col("cy").as("jy"))
    val ddx = col("sxa") * col("nb") - col("sxb") * col("na")
    val ddy = col("sya") * col("nb") - col("syb") * col("na")
    val proxy = (ddx * ddx + ddy * ddy).cast("double") /
      ((col("na") * col("nb")) * (col("na") * col("nb"))).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("la").orderBy(col("proxy"), col("lb"))
    val want = a.join(b, Seq("jx", "jy"))
      .withColumn("proxy", proxy)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 7)
      .withColumn("hd",
        round(graft.operators.MatchLines.hausdorff(col("pa"), col("pb")), 4))
      .withColumn("rk2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("la")
          .orderBy(col("hd").asc_nulls_last, col("lb"))))
      .filter(col("rk2") === 1 && col("hd").isNotNull)
      .select(col("la"), col("lb"), col("hd"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    assert(got.count() > 0)
  }

  test("shortestPaths: hand-computed graph, improvement beats first-found") {
    import spark.implicits._
    // (0,0) -1-> (0,1) -1-> (1,1) -2-> (1,0); direct (0,0) -5-> (1,0).
    // Hop 1 reaches (1,0) at cost 5; round 3 must improve it to 4 —
    // distinguishes Bellman-Ford relaxation from plain hop-order BFS.
    val edges = Seq(
      (0L, 0L, 0L, 1L, 1L), (0L, 1L, 1L, 1L, 1L),
      (1L, 1L, 1L, 0L, 2L), (0L, 0L, 1L, 0L, 5L),
      (7L, 7L, 8L, 8L, 1L) // disconnected component, never reached
    ).toDF("cx", "cy", "dcx", "dcy", "w")
    val source = Seq((0L, 0L)).toDF("cx", "cy")
    val got = Contour.shortestPaths(edges, source).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === Map((0L, 0L) -> 0L, (0L, 1L) -> 1L,
      (1L, 1L) -> 2L, (1L, 0L) -> 4L))
  }

  test("isochrone BFS covers the full grid with center distance 0") {
    val out = graft.queries.ContourQueries.qIsochroneBfs(spark, SfDir)
      .collect()
    val byCell = out.map(r => ((r.getAs[Long]("cx"), r.getAs[Long]("cy")),
      r.getAs[Long]("tt_min"))).toMap
    val cols = byCell.keys.map(_._1).max + 1
    val rows = byCell.keys.map(_._2).max + 1
    assert(byCell.size === cols * rows) // connected grid: all reachable
    assert(byCell((cols / 2, rows / 2)) === 0L)
    // triangle sanity: every neighbor differs by at most the edge weight
    out.foreach { r =>
      val (cx, cy, d) = (r.getAs[Long]("cx"), r.getAs[Long]("cy"),
        r.getAs[Long]("tt_min"))
      byCell.get((cx + 1, cy)).foreach { dn =>
        assert(dn <= d + 1 + ((cx + 1) * 31 + cy * 17) % 5)
      }
    }
  }

  test("multi-source isochrone: dominated by single-source, origins at 0") {
    val single = graft.queries.ContourQueries.qIsochroneBfs(spark, SfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val multi = graft.queries.ContourQueries
      .qIsochroneBfsMulti(spark, SfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(multi.keySet === single.keySet)
    // closest-facility time never exceeds the center-only time
    multi.foreach { case (cell, d) => assert(d <= single(cell)) }
    // all five origins are at distance 0
    val cols = multi.keys.map(_._1).max + 1
    val rows = multi.keys.map(_._2).max + 1
    for (o <- Seq((cols / 2, rows / 2), (0L, 0L), (cols - 1, 0L),
        (0L, rows - 1), (cols - 1, rows - 1))) {
      assert(multi(o) === 0L)
    }
  }

  test("q1 pricing: shipdate predicate and column pruning reach the scan") {
    val plan = graft.queries.Analytics.q1Pricing(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val read = "ReadSchema: [^\\n]+".r.findFirstIn(plan).get
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"))
  }

  test("bucketed tables join with zero exchanges") {
    import graft.sources.Bucketed
    val li = Tables.load(spark, SfDir, "lineitem")
      .select(col("l_orderkey").cast("long").as("k"), col("l_quantity"))
    val o = Tables.load(spark, SfDir, "orders")
      .select(col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority"))
    Bucketed.writeBucketed(li, "graft_li_b", "/tmp/graft_bucket_li", "k", 8)
    Bucketed.writeBucketed(o, "graft_o_b", "/tmp/graft_bucket_o", "k", 8)
    // force the sort-merge path so the assertion is about bucketing, not
    // broadcast; restore the threshold afterwards
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketed.readBucketed(spark, "graft_li_b")
        .join(Bucketed.readBucketed(spark, "graft_o_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"))
      assert(joined.count() ===
        li.join(o, "k").count())
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("CMS estimates never undercount (count-min guarantee)") {
    val out = graft.queries.RetrievalQueries
      .qHeavyHittersCms(spark, SfDir).collect()
    assert(out.length === 10)
    assert(out.forall(_.getAs[Long]("overcount") >= 0L))
    assert(out.forall(r => r.getAs[Long]("est") >= r.getAs[Long]("exact")))
    // heavy hitters dominate: 'the' must estimate above the rare probes
    val byW = out.map(r => r.getAs[String]("w") -> r.getAs[Long]("est")).toMap
    assert(byW("the") > byW("zebra"))
  }

  test("chunking tiles every doc: strides cover, sizes bounded, ids dense") {
    val ch = graft.queries.RetrievalQueries.qChunkDocs(spark, SfDir)
    assert(ch.filter(col("n_tok") < 1 || col("n_tok") > 16).count() === 0)
    // chunk ids are dense from 0: max_id + 1 == n_chunks per doc
    val perDoc = ch.groupBy("doc_id")
      .agg(max("chunk_id").as("mx"), count(lit(1)).as("n"))
    assert(perDoc.filter(col("mx") + 1 =!= col("n")).count() === 0)
    // exact tiling: n_tok == min(ChunkSize, total - stride*chunk_id),
    // where total is recoverable from the last chunk's extent
    val withTot = ch.join(
      ch.groupBy("doc_id")
        .agg(max(col("chunk_id") * 12 + col("n_tok")).as("tot")),
      "doc_id")
    assert(withTot
      .filter(col("n_tok") =!= least(lit(16), col("tot") - col("chunk_id") * 12))
      .count() === 0)
  }

  test("BPE encode strictly compresses and matches merge occurrences") {
    val out = graft.queries.RetrievalQueries.qBpeEncode(spark, SfDir)
    assert(out.filter(col("n_enc") > col("n_raw")).count() === 0)
    // corpus-wide, two merges must save something on real text
    assert(out.agg(sum("saved")).collect()(0).getLong(0) > 0L)
  }

  test("skew report: stats agree with an independent per-key count") {
    import graft.queries.Analytics
    val dir = "/root/testdata/sf0.001"
    val out = Analytics.qSkewReport(spark, dir).collect()
      .map(r => r.getAs[String]("key_col") -> r).toMap
    assert(out.keySet === Set("l_orderkey", "l_partkey", "l_suppkey"))
    for (c <- out.keySet) {
      val counts = Tables.load(spark, dir, "lineitem")
        .selectExpr(s"CAST($c AS LONG) AS k").collect()
        .map(_.getLong(0)).groupBy(identity).map { case (k, v) =>
          k -> v.length.toLong }
      val r = out(c)
      assert(r.getAs[Long]("n_rows") === counts.values.sum)
      assert(r.getAs[Long]("n_keys") === counts.size.toLong)
      val mx = counts.values.max
      assert(r.getAs[Long]("max_cnt") === mx)
      // deterministic heavy key: max count, min key among ties
      assert(r.getAs[Long]("heavy_key") ===
        counts.filter(_._2 == mx).keys.min)
      // p99 = smallest multiplicity covering ceil(0.99 * n_keys) keys
      val sorted = counts.values.toSeq.sorted
      val want = sorted(((99 * counts.size + 99) / 100 - 1).toInt)
      assert(r.getAs[Long]("p99_cnt") === want)
      // salt = ceil(max/mean), >= 1, and 1 exactly when unskewed
      val salt = r.getAs[Long]("salt")
      assert(salt === (mx * counts.size + counts.values.sum - 1)
        / counts.values.sum)
      assert(salt >= 1L)
    }
  }

  test("as-of join: every click gets its latest prior-or-equal view, " +
    "matching an independent per-user scan") {
    import graft.queries.EventQueries
    val dir = "/root/testdata/sf0.001"
    val out = EventQueries.qAsofJoin(spark, dir).collect()
      .map(r => r.getAs[Long]("click_id") ->
        (r.getAs[Long]("view_id"), r.getAs[Long]("view_ts_us"),
          r.getAs[Long]("lag_us"))).toMap
    val ev = Tables.eventsUs(spark, dir)
      .selectExpr("CAST(event_id AS LONG) AS id",
        "CAST(user_id AS LONG) AS uid", "event_type", "ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val viewsByUser = ev.filter(_._3 == "view").groupBy(_._2)
    var matched = 0
    for ((id, uid, typ, ts) <- ev if typ == "click") {
      val prior = viewsByUser.getOrElse(uid, Array.empty)
        .filter(_._4 <= ts)
      if (prior.isEmpty) assert(!out.contains(id))
      else {
        val bestTs = prior.map(_._4).max
        val bestId = prior.filter(_._4 == bestTs).map(_._1).max
        assert(out(id) === ((bestId, bestTs, ts - bestTs)))
        matched += 1
      }
    }
    assert(matched > 0 && matched === out.size)
    // lag is never negative: the match is at-or-before by construction
    assert(out.values.forall(_._3 >= 0L))
  }

  test("retention: offset-0 is the full cohort, later offsets never exceed it") {
    val r = graft.queries.EventQueries.qRetention(spark, SfDir).collect()
    val zero = r.filter(_.getAs[Long]("wk_off") == 0L)
    assert(zero.nonEmpty)
    assert(zero.forall(_.getAs[Double]("retention") === 1.0))
    assert(r.forall(x =>
      x.getAs[Long]("n_users") <= x.getAs[Long]("cohort_n")))
  }

  test("CRS tag rides the schema, survives parquet, and picks the formula") {
    import graft.sources.{Crs, Wkt}
    import spark.implicits._
    val raw = Seq((1L, "POINT (10 50)", "POINT (11 50)"),
      (2L, "POINT (0 0)", "POINT (3 4)")).toDF("id", "w1", "w2")
    def tagged(epsg: Long) = raw.select(col("id"),
      Crs.withCrs(Wkt.parsePoint(col("w1")), "g1", epsg),
      Crs.withCrs(Wkt.parsePoint(col("w2")), "g2", epsg))
    val geo = tagged(4326L)
    assert(Crs.epsgOf(geo, "g1") === Some(4326L))
    // geographic: 1 degree of longitude at lat 50 is ~71 km, not 1 unit
    val dGeo = geo.filter(col("id") === 1)
      .select(Crs.pointDistance(geo, "g1", "g2")).head.getDouble(0)
    assert(dGeo > 60.0 && dGeo < 80.0)
    // projected: plain euclidean in CRS units (3-4-5 triangle)
    val prj = tagged(32633L)
    val dPrj = prj.filter(col("id") === 2)
      .select(Crs.pointDistance(prj, "g1", "g2")).head.getDouble(0)
    assert(math.abs(dPrj - 5.0) < 1e-9)
    // the tag survives a parquet round trip (schema metadata persists)
    val path = "/tmp/graft_crs_spec"
    geo.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    assert(Crs.epsgOf(back, "g1") === Some(4326L))
    // untagged and mixed-CRS layers are refused loudly
    intercept[RuntimeException] { Crs.pointDistance(raw, "w1", "w2") }
    val mixed = raw.select(col("id"),
      Crs.withCrs(Wkt.parsePoint(col("w1")), "g1", 4326L),
      Crs.withCrs(Wkt.parsePoint(col("w2")), "g2", 32633L))
    intercept[IllegalArgumentException] {
      Crs.pointDistance(mixed, "g1", "g2")
    }
  }

  test("PageRank converges data-driven and the converged ranks are stable") {
    import spark.implicits._
    // small strongly-connected-ish graph: a 6-cycle with two chords
    val ed = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (5L, 0L, 1L), (1L, 4L, 2L), (3L, 0L, 3L))
      .toDF("src", "dst", "w")
    val (ranks, iters) = PageRank.pageRankWithIters(ed, eps = 1e-7,
      maxIters = 200)
    // the delta stop must fire well before the iteration cap (damping
    // 0.85 contracts the delta geometrically: ~0.85^k < 1e-7 at k~100)
    assert(iters < 200, s"did not converge (ran $iters iterations)")
    assert(iters > 1)
    // converged ranks are a fixed point: a tighter-eps run (more hops)
    // lands on the same ranks at 6 decimals. Both runs use the armed
    // convergence path — per-hop checkpoints keep the plan flat at any
    // hop count, which is why the long-run form REQUIRES eps > 0 (a
    // 100+-hop fixed pipeline would drown the driver in plan analysis).
    val more = PageRank.pageRank(ed, eps = 1e-9, maxIters = 300)
    val a = ranks.select(col("p"), round(col("r"), 6).as("r"))
    val b = more.select(col("p"), round(col("r"), 6).as("r"))
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
    // rank mass is conserved (no dangling nodes in this graph)
    val mass = ranks.agg(sum("r")).head.getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9)
    // eps = 0 runs exactly maxIters — the fixed-hop oracle form
    assert(PageRank.pageRankWithIters(ed, 0.0, 5)._2 === 5)
  }

  test("SCD2: intervals chain gap-free per user and only the last is current") {
    import org.apache.spark.sql.functions._
    val dim = graft.queries.EventQueries.qScd2(spark, SfDir).cache()
    // exactly one current row per user
    val perUser = dim.groupBy("user_id")
      .agg(sum(col("is_current").cast("long")).as("cur"),
        max("version").as("maxv"), count(lit(1)).as("n"))
    assert(perUser.filter(col("cur") =!= 1).count() === 0)
    // versions are dense 1..n
    assert(perUser.filter(col("maxv") =!= col("n")).count() === 0)
    // eff_to of version v == eff_from of version v+1 (gap-free chain)
    val a = dim.select(col("user_id"), col("version"), col("eff_to_us"))
      .filter(col("eff_to_us").isNotNull)
    val b = dim.select(col("user_id"), (col("version") - 1).as("version"),
      col("eff_from_us"))
    val broken = a.join(b, Seq("user_id", "version"))
      .filter(col("eff_to_us") =!= col("eff_from_us"))
    assert(broken.count() === 0)
    // adjacent versions always change k
    val nk = dim.select(col("user_id"), (col("version") - 1).as("version"),
      col("k").as("next_k"))
    val noChange = dim.join(nk, Seq("user_id", "version"))
      .filter(col("k") === col("next_k"))
    assert(noChange.count() === 0)
    dim.unpersist()
  }

  test("anomaly: flagged z-scores exceed 2 and agree with stddev_pop") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.EventQueries.qEventAnomaly(spark, SfDir)
    assert(out.filter(abs(col("z")) <= 2.0).count() === 0)
    // cross-check against Spark's own population stddev on the cents
    val ev = graft.Tables.eventsUs(spark, SfDir)
      .select(col("event_id").cast("long").as("event_id"),
        col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val st = ev.groupBy("event_type")
      .agg(avg(col("cents").cast("double")).as("mu"),
        stddev_pop(col("cents").cast("double")).as("sd"))
    val recomputed = ev.join(st, "event_type")
      .withColumn("z2", (col("cents") - col("mu")) / col("sd"))
      .filter(abs(col("z2")) > 2.0)
    // same flagged set (z formulas differ in FP rounding; the 2.0 cut
    // can only disagree within ~1e-9 of the threshold — none here)
    val got = out.select("event_id")
    val want = recomputed.select("event_id")
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
  }

  test("z-order layout: every file is range-tight in BOTH dimensions") {
    import org.apache.spark.sql.functions._
    val layout = graft.queries.Analytics.qZorderLayout(spark, SfDir).cache()
    val g = layout.agg(
      max("max_ck").as("gck"), min("min_ck").as("mck"),
      max("max_day").as("gday"), min("min_day").as("mday"),
      sum(col("ck_span") * col("n_rows")).as("wck"),
      sum(col("day_span") * col("n_rows")).as("wday"),
      sum("n_rows").as("n")).head
    val globalCk = g.getAs[Long]("gck") - g.getAs[Long]("mck")
    val globalDay = g.getAs[Long]("gday") - g.getAs[Long]("mday")
    val avgCk = g.getAs[Long]("wck").toDouble / g.getAs[Long]("n")
    val avgDay = g.getAs[Long]("wday").toDouble / g.getAs[Long]("n")
    // the whole point of Morton order: a z-contiguous file covers a
    // bounded rectangle, so the row-weighted mean span per file is far
    // below the global span in BOTH dims (a single-column sort would
    // leave the second dim's span at ~global)
    assert(avgCk < globalCk / 2.0, s"ck span $avgCk vs global $globalCk")
    assert(avgDay < globalDay / 2.0, s"day span $avgDay vs global $globalDay")
    layout.unpersist()
  }

  test("r12 langid: confusion diagonal >= 0.85 every language, " +
    "honest 'und' kept") {
    val rows = graft.queries.TextQueries.qLangidEval(spark, SfDir)
      .collect()
    for (l <- Seq("en", "de", "es", "fr", "zh")) {
      val diag = rows.find(r =>
        r.getAs[String]("lang") == l && r.getAs[String]("pred_lang") == l)
      assert(diag.isDefined, s"$l has no diagonal cell")
      val rec = diag.get.getAs[Double]("frac_of_actual")
      assert(rec >= 0.85, s"$l diagonal recall $rec < 0.85")
    }
    assert(rows.exists(_.getAs[String]("pred_lang") == "und"),
      "the honest-'und' stratum must still surface as unknown")
  }

  test("r12 h264 multi-coefficient CAVLC: the stated-unreachable " +
    "pieces are genuinely exercised") {
    val rows = graft.queries.SourceQueries
      .qMultimodalH264Ac(spark, SfDir).collect()
    assert(rows.nonEmpty)
    def col(n: String) = rows.map(_.getAs[Long](n))
    // TotalCoeff spans 0..3 (empty token through 3-coefficient blocks)
    assert(col("tc").toSet === Set(0L, 1L, 2L, 3L))
    // the 2<=nC<4 coeff_token table is reached via left neighbors
    assert(rows.exists(_.getAs[Long]("n_c") >= 2),
      "2<=nC<4 coeff_token table never selected")
    // TrailingOnes 0..3 (all sign-bit paths)
    assert(Set(0L, 1L, 2L, 3L).subsetOf(col("t1s").toSet))
    // run_before is coded whenever tc >= 2 with zeros interleaved
    assert(rows.exists(r => r.getAs[Long]("tc") >= 2 &&
      r.getAs[Long]("tzeros") > 0), "run_before never exercised")
    // multi-level blocks with non-unit magnitudes drive the
    // suffixLength progression + escape tiers (decode round-trips
    // them bit-exactly or the oracle hash would diverge)
    assert(rows.exists(r => r.getAs[Long]("tc") >= 2 &&
      math.abs(r.getAs[Long]("lvl_sum")) >= 20))
  }

  test("r12 h264 CBP luma-15: spatial nC contexts and both requant " +
    "branches genuinely exercised") {
    val rows = graft.queries.SourceQueries
      .qMultimodalH264Cbp(spark, SfDir).collect()
    assert(rows.nonEmpty)
    // AC TotalCoeff mass is real: (d+idx+2·blk)%3 summed over the 16
    // blocks is structurally 15/16/17 per MB — every MB carries ~1
    // coefficient per block on average, never an all-empty corpus
    val tcSums = rows.map(_.getAs[Long]("ac_tc_sum")).toSet
    assert(tcSums == Set(15L, 16L, 17L),
      s"AC coefficient mass off its design point: $tcSums")
    // DC nC from the left MB's column-3 AC block reaches 2 (the
    // 2<=nC<4 coeff_token table fires on a SPATIAL neighbour context)
    assert(rows.exists(_.getAs[Long]("dc_nc") >= 2),
      "spatial nC never reached the 2<=nC<4 table")
    // both qp requantization branches occur across the corpus
    // (qp = 20 + doc_id % 16 spans 20..35; branch flips at 24)
    val preds = rows.map(_.getAs[Long]("pred"))
    assert(preds.exists(_ != 128L), "left DC prediction chain inert")
    // the position-weighted checksum pins per-pixel reconstruction;
    // identical recon_sum with differing wsum would be caught by the
    // oracle hash — here assert it varies (a constant wsum would mean
    // the AC layer contributes nothing)
    assert(rows.map(_.getAs[Long]("wsum")).distinct.length > 100)
  }

  test("r12 pdf codec: round-trip on real files, tampering fails loud") {
    import graft.operators.Pdf
    val b = Pdf.synthPdfBytes(42L)
    assert(new String(b.take(8), java.nio.charset.StandardCharsets
      .US_ASCII) == "%PDF-1.4")
    val row = Pdf.decodePdf(42L, b).head
    assert(row.n_lines == 3 + 42 % 6 && row.font_size == 9 + 42 % 8)
    assert(row.y_last == row.y0 - (row.n_lines - 1) * (row.font_size + 2))
    // multi-page: the Kids array walk is real — 43 % 3 = 1 -> 2 pages,
    // each with its own content stream, fonts/geometry per page
    val multi = Pdf.decodePdf(43L, Pdf.synthPdfBytes(43L))
    assert(multi.size == 2 && multi.map(_.page) == Seq(0L, 1L))
    assert(multi(0).font_size != multi(1).font_size ||
      multi(0).n_lines != multi(1).n_lines)
    // corrupt one xref offset digit: the decoder must refuse, not
    // silently mis-navigate (the offsets are load-bearing)
    val s = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    val xrefAt = s.lastIndexOf("xref\n0 6\n")
    val entryAt = xrefAt + 9 + 20 // first in-use entry
    val bad = b.clone()
    bad(entryAt + 5) = (if (b(entryAt + 5) == '9') '8' else '9').toByte
    intercept[IllegalArgumentException] { Pdf.decodePdf(42L, bad) }
    // corrupt a byte inside the compressed stream: inflate or the
    // operator parse must fail, never return wrong text silently
    val zAt = s.indexOf("stream\n") + 7
    val bad2 = b.clone()
    bad2(zAt + 4) = (bad2(zAt + 4) ^ 0x7f).toByte
    intercept[Exception] { Pdf.decodePdf(42L, bad2) }
    // r13 escapes: doc 42 line 2 is in the escape stratum ((42+0+2)%4
    // == 0), so the LOGICAL text carries ' (ref \8)' — 3 escape-class
    // chars — while the emitted literal string escapes them per
    // §7.3.4.2; the decode must return the logical form
    assert(Pdf.lineText(42L, 0, 2).endsWith(" (ref \\8)"))
    assert(Pdf.escapeString("a(b)c\\d") == "a\\(b\\)c\\\\d")
    assert(row.esc_chars == 3L,
      s"escape stratum chars ${row.esc_chars}")
    // every escape-stratum line contributes exactly the 3-char
    // '(', '\', ')' set, so any page's esc_chars is a multiple of 3 —
    // a partial count would mean the tokenizer split a string at an
    // escaped paren
    val multi45 = Pdf.decodePdf(45L, Pdf.synthPdfBytes(45L))
    assert(multi45.forall(r => r.esc_chars % 3 == 0))
  }

  test("r14 pdf 1.5: xref STREAM (Up predictor) + ObjStm round-trip; " +
    "predictor and pair-table are load-bearing; full escape set") {
    import graft.operators.Pdf
    val b = Pdf.synthPdfXBytes(42L)
    assert(new String(b.take(8), java.nio.charset.StandardCharsets
      .US_ASCII) == "%PDF-1.5")
    // no classic trailer keyword anywhere in the 1.5 layout
    assert(!new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("trailer"))
    val rows = Pdf.decodePdfX(42L, b)
    assert(rows.size == Pdf.nPagesX(42L) && rows.size == 2)
    val r0 = rows.head
    assert(r0.n_objs == 5 + 2 * 2 && r0.n_objstm == 2 + 3)
    assert(r0.y_last == r0.y0 - (r0.n_lines - 1) * (r0.font_size + 2))
    // escape stratum: tab + '(' + '\' + ctrl + ')' = 5 per stratum line
    assert(rows.forall(_.esc_chars % 5 == 0) && rows.exists(_.esc_chars > 0))
    // writer/reader escape pair: named classes AND 3-digit octal
    assert(Pdf.escapeString15("a\tbc(d)e\\f") ==
      "a\\tb\\001c\\(d\\)e\\\\f")
    assert(Pdf.unescape15("a\\tb\\001c\\(d\\)e\\\\f") ==
      "a\tbc(d)e\\f")
    // the Up predictor is LOAD-BEARING: the tamper variant stores raw
    // rows under the same tag bytes — a reader that skipped the Up
    // pass would accept it; ours must refuse on a structural REQUIRE
    intercept[Exception] {
      Pdf.decodePdfX(42L, Pdf.synthPdfXBytes(42L, applyPredictor = false))
    }
    // corrupt one byte of the compressed xref stream: inflate or the
    // entry parse must fail loud
    val s = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    val xObjAt = s.lastIndexOf(" 0 obj\n<< /Type /XRef")
    val zAt = s.indexOf("stream\n", xObjAt) + 7
    val bad = b.clone()
    bad(zAt + 3) = (bad(zAt + 3) ^ 0x7f).toByte
    intercept[Exception] { Pdf.decodePdfX(42L, bad) }
    // every doc id decodes clean (octal/named escapes across the
    // control range, 1-3 pages, all ObjStm indices)
    (0L until 60L).foreach { d =>
      val rs = Pdf.decodePdfX(d, Pdf.synthPdfXBytes(d))
      assert(rs.size == Pdf.nPagesX(d))
    }
  }

  test("r14 pdf incremental update: newest-wins /Prev chain shadows " +
    "the still-present original; a stale read differs") {
    import graft.operators.Pdf
    val d = 42L
    val base = Pdf.decodePdfX(d, Pdf.synthPdfXBytes(d))
    val inc = Pdf.decodePdfXInc(d, Pdf.synthPdfXIncBytes(d))
    assert(inc.size == base.size)
    // page 0: one extra revision line, new hash — the updated content
    // stream won even though the ORIGINAL bytes are still in the file
    assert(inc.head.n_lines == base.head.n_lines + 1)
    assert(inc.head.text_hash != base.head.text_hash)
    assert(inc.head.y_last ==
      base.head.y_last - (base.head.font_size + 2))
    // other pages byte-identical features (only n_objs grew: the
    // second xref stream object)
    inc.tail.zip(base.tail).foreach { case (i, b) =>
      assert(i.text_hash == b.text_hash && i.n_lines == b.n_lines)
    }
    assert(inc.head.n_objs == base.head.n_objs + 1)
    // a broken /Prev must refuse loud (never fall back to a stale or
    // positional read)
    intercept[Exception] {
      Pdf.decodePdfXInc(d, Pdf.synthPdfXIncBytes(d, prevOverride = Some(5)))
    }
    // the single-section decoder refuses an incremental file rather
    // than silently reading only the newest section
    intercept[Exception] {
      Pdf.decodePdfX(d, Pdf.synthPdfXIncBytes(d))
    }
    (0L until 40L).foreach { dd =>
      assert(Pdf.decodePdfXInc(dd, Pdf.synthPdfXIncBytes(dd)).size ==
        Pdf.nPagesX(dd))
    }
  }

  test("r12 format sniffing: every codec round-trips its magic; " +
    "tampering routes to unknown, never mis-routes") {
    import graft.operators.Sniff
    for ((f, i) <- Sniff.Formats.zipWithIndex) {
      val b = Sniff.synthFor(f, 100L + i)
      assert(Sniff.sniff(b) == f, s"$f mis-sniffed as ${Sniff.sniff(b)}")
      val t = b.clone()
      t(0) = (t(0) ^ 0x55).toByte
      t(4) = (t(4) ^ 0x55).toByte
      assert(Sniff.sniff(t) == "unknown",
        s"tampered $f still routed as ${Sniff.sniff(t)}")
    }
  }

  test("Graft facade mirrors the reference __all__ surface") {
    val polys = GeoData.polyNation(spark, SfDir)
    assert(Graft.dissolve(polys, "rkey").count() === 5)
    assert(Graft.getBorders(polys, "name", 21.0, 0.01).count() === 80)
    val pts = GeoData.ptsEvents(spark, SfDir)
    assert(Graft.gridifyData(pts, 10.0, "weight").count() > 0)
    intercept[IllegalArgumentException] {
      Graft.matchLines(polys, polys, method = "nope")
    }
  }

  test("Graft.matchLines cluster: hand-computed descriptor best matches") {
    import spark.implicits._
    // two-vertex lines in integer tenths; score = centroid L1 + length
    // difference + bearing difference (mod 360), argmin per probe,
    // ties to the smaller target id
    val segs = Seq(
      1L -> ((0, 0), (40, 0)),       // probe: east, centroid (2, 0)
      2L -> ((10, 0), (10, 40)),     // probe: north, centroid (1, 2)
      3L -> ((0, 20), (40, 20)),     // probe: east, centroid (2, 2)
      4L -> ((1000, 1000), (1040, 1000)), // probe: no target cell near
      10L -> ((0, 10), (40, 10)),    // east, centroid (2, 1)
      11L -> ((0, 0), (0, 40)),      // north, centroid (0, 2)
      12L -> ((40, 0), (0, 0)),      // west: bearing 180 off line 1
      13L -> ((0, 5), (45, 5)),      // east, length 4.5
      14L -> ((0, 30), (40, 30)))    // east, centroid (2, 3)
    val verts = segs.flatMap { case (lid, ((x0, y0), (x1, y1))) =>
      Seq((lid, 0, x0.toLong, y0.toLong), (lid, 1, x1.toLong, y1.toLong))
    }.toDF("lid", "seq", "xi", "yi")
    val lines = MatchLines.linesWithCells(verts, 100)
    val got = Graft.matchLines(lines.filter(col("lid") < 10),
        lines.filter(col("lid") >= 10), method = "cluster")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // line 1: 10 scores 0 + 1 + 0 + 0 = 1, 13 scores 1.25, 11 scores 94
    // line 2: 11 scores 1 + 0 + 0 + 0 = 1, 10 scores 1 + 1 + 0 + 90 = 92
    // line 3: 10 and 14 both score 1; the tie goes to 10
    assert(got === Map(1L -> ((10L, 1.0)), 2L -> ((11L, 1.0)),
      3L -> ((10L, 1.0))))
  }

  test("GeoJSON kinds: every kind roundtrips, corrupt paths null out " +
    "at the right level") {
    import graft.sources.GeoJson
    import spark.implicits._
    val feats = Seq(
      """{"type":"Feature","properties":{"pid":1},"geometry":{"type":"Point","coordinates":[3,4]}}""",
      """{"type":"Feature","properties":{"pid":2},"geometry":{"type":"LineString","coordinates":[[0,0],[3,4],[6,4]]}}""",
      """{"type":"Feature","properties":{"pid":3},"geometry":{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,3],[0,0]]]}}""",
      """{"type":"Feature","properties":{"pid":4},"geometry":{"type":"MultiPolygon","coordinates":[[[[0,0],[4,0],[4,3],[0,0]]],[[[9,9],[12,9],[9,12],[9,9]]]]}}""",
      // corrupt: unknown kind (valid JSON), lying type tag (declared
      // Point, LineString-depth coords), unclosed ring, bad arity
      """{"type":"Feature","properties":{"pid":5},"geometry":{"type":"Blob","coordinates":[3,4]}}""",
      """{"type":"Feature","properties":{"pid":6},"geometry":{"type":"Point","coordinates":[[0,0],[3,4]]}}""",
      """{"type":"Feature","properties":{"pid":7},"geometry":{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,3],[1,1]]]}}""",
      """{"type":"Feature","properties":{"pid":8},"geometry":{"type":"LineString","coordinates":[[0,0],[3]]}}""")
    val df = feats.toDF("j")
      .select(col("j"), GeoJson.parseFeatureAny(col("j")).as("p"))
    val rows = df.collect().map(r => (r.getString(0), r.get(1)))
    val good = rows.filter(_._2 != null)
    assert(good.length === 4 && rows.length === 8)
    // writer ∘ parser = identity byte-for-byte on every kind
    val rt = df.filter(col("p").isNotNull)
      .select((GeoJson.writeFeatureAny(col("p.pid"), col("p.kind"),
        col("p.polys")) === col("j")).as("ok")).collect()
    assert(rt.forall(_.getBoolean(0)))
    // FeatureCollection framing: valid FC explodes into raw feature
    // strings; truncated FC nulls as a unit
    val fc = """{"type":"FeatureCollection","features":[""" +
      feats.take(2).mkString(",") + "]}"
    val both = Seq(fc, fc.take(50), """{"type":"Nope","features":[]}""")
      .toDF("j").select(GeoJson.parseCollection(col("j")).as("f"))
      .collect()
    assert(both(0).getSeq[String](0) === feats.take(2))
    assert(both(1).isNullAt(0) && both(2).isNullAt(0))
  }

}

/** Cartogram fixtures shared with the query layer. */
object CartogramTestData {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  def nc(spark: SparkSession, dir: String): DataFrame =
    graft.queries.CartogramQueries.queries("q_nc_cartogram")(spark, dir)
  def dougenik(spark: SparkSession, dir: String): DataFrame =
    graft.queries.CartogramQueries.queries("q_cartogram")(spark, dir)
}
