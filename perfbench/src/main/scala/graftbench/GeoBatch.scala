package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.operators.MatchLines

/** geo_batch: one full geo pass over generated WKT layers. WKT parsing
  * (sources) feeds grid-bucketed operators; the clip and Hausdorff
  * kernels (geom) run over checkpointed candidate pairs so their cost is
  * measured on its own. */
final class GeoBatch(ctx: Ctx) extends BatchWorkload(ctx) {
  private val p = Manifest.params
  private def num(k: String): Double = p(k).toString.toDouble

  private def bbox(ring: Column): Seq[Column] = Seq(
    array_min(transform(ring, _("x"))).as("x0"),
    array_min(transform(ring, _("y"))).as("y0"),
    array_max(transform(ring, _("x"))).as("x1"),
    array_max(transform(ring, _("y"))).as("y1"))

  /** Parsed layers of one input directory (lazy; no Spark job yet). */
  private final class Layers(dir: String) {
    val points: DataFrame = ctx.read(s"$dir/points")
      .select(col("id"), Graft.parsePointWkt(col("wkt")).as("p"), col("w"))
      .select(col("id"), col("p.x").as("x"), col("p.y").as("y"), col("w"))
    val targets: DataFrame = ctx.read(s"$dir/targets")
      .select(col("tid"), Graft.parsePointWkt(col("wkt")).as("p"))
      .select(col("tid"), col("p.x").as("tx"), col("p.y").as("ty"))
    val boxes: DataFrame = ctx.read(s"$dir/boxes")
      .select(col("rid"), Graft.parsePolygonWkt(col("wkt")).as("r"))
      .select(col("rid") +: bbox(col("r")): _*)
    val grid: DataFrame = ctx.read(s"$dir/grid")
      .select(col("pid"), col("name"), col("rkey"),
        Graft.parsePolygonWkt(col("wkt")).as("r"))
      .select(Seq(col("pid"), col("name"), col("rkey")) ++ bbox(col("r")): _*)
    val vertices: DataFrame = ctx.read(s"$dir/lines")
      .select(col("lid"),
        posexplode(Graft.parseLineStringWkt(col("wkt"))).as(Seq("i", "v")))
      .select(col("lid"), (col("i") + 1).as("seq"),
        round(col("v.x") * 10.0).cast("long").as("xi"),
        round(col("v.y") * 10.0).cast("long").as("yi"))
    // WKT rings repeat the first vertex at the end; the clip kernel takes
    // open rings
    val stars: DataFrame = ctx.read(s"$dir/stars")
      .select(col("sid"), Graft.parsePolygonWkt(col("wkt")).as("r0"))
      .select(col("sid"), slice(col("r0"), lit(1), size(col("r0")) - 1).as("r"))
      .select(Seq(col("sid"), col("r")) ++ bbox(col("r")): _*)
  }

  private def within(df: DataFrame, w: Seq[Double]): DataFrame =
    df.filter(col("x") >= w(0) && col("x") < w(2) && col("y") >= w(1) &&
      col("y") < w(3))

  private def inside(df: DataFrame, w: Seq[Double]): DataFrame =
    df.filter(col("x0") >= w(0) && col("x1") < w(2) && col("y0") >= w(1) &&
      col("y1") < w(3))

  def pass(dir: String): Unit = {
    val l = new Layers(dir)
    val parse = "sources.wkt_parse"
    val pts = ctx.keep(parse, l.points)
    val tgts = ctx.keep(parse, l.targets)
    val boxes = ctx.keep(parse, l.boxes)
    val grid = ctx.keep(parse, l.grid)
    val verts = ctx.keep(parse, l.vertices)
    val stars = ctx.keep(parse, l.stars)

    ctx.exec("operators.snap", Graft.snapToNearest(
      pts.select("id", "x", "y"), tgts, num("snap_frame")))
    ctx.exec("operators.intersects",
      Graft.intersectsByid(boxes, boxes, num("box_cell")))
    ctx.exec("operators.intersection_part",
      Graft.intersectionPart(boxes, boxes, num("box_cell")))
    ctx.exec("operators.find_borders", Graft.findBorders(grid, "name",
      num("border_cell"), num("border_tol")))
    ctx.exec("operators.dissolve", Graft.dissolve(grid, "rkey"))
    ctx.exec("operators.gridify",
      Graft.gridifyData(pts, num("gridify_height"), "w"))

    // match_lines: probes are the lids past the target lines
    val nTargets = Manifest.sizes(dir)("lines").toString.toLong
    val lines = ctx.op("operators.match_lines")(
      ctx.span("operators.match_lines") {
        val base = MatchLines.linesAgg(verts).localCheckpoint()
        val lines = MatchLines.withCells(base, MatchLines.autoCellTenths(base))
        ctx.tracer.rows(Graft.matchLines(lines.filter(col("lid") >= nTargets),
          lines.filter(col("lid") < nTargets)).queryExecution.toRdd.count())
        lines
      }).getOrElse(throw new PassFailed("operators.match_lines"))
    // kernel volume: sampled probes against every target in their cell
    val every = num("hausdorff_probe_every").toLong
    val hpairs = ctx.keep("prep.hausdorff_pairs", lines
      .filter(col("lid") >= nTargets && col("lid") % every === 0)
      .select(col("lid").as("la"), col("pts").as("pa"), col("cx"), col("cy"))
      .join(lines.filter(col("lid") < nTargets).select(col("lid").as("lb"),
        col("pts").as("pb"), col("cx"), col("cy")), Seq("cx", "cy"))
      .select("la", "lb", "pa", "pb"))
    ctx.exec("geom.hausdorff",
      hpairs.select(MatchLines.hausdorff(col("pa"), col("pb")).as("hd")))

    // general clip over candidate concave-polygon pairs (bbox overlap)
    val sb = stars.select(col("sid").as("rid"), col("x0"), col("y0"),
      col("x1"), col("y1"))
    val cpairs = ctx.keep("prep.clip_pairs",
      Graft.intersectsByid(sb, sb, num("star_cell"))
        .filter(col("ida") < col("idb"))
        .join(stars.select(col("sid").as("ida"), col("r").as("ra")), "ida")
        .join(stars.select(col("sid").as("idb"), col("r").as("rb")), "idb")
        .select("ida", "idb", "ra", "rb"))
    ctx.exec("geom.clip_area", cpairs.select(
      Graft.intersectionAreaGeneral(col("ra"), col("rb")).as("area")))
  }

  /** Replays on seeded windows, written for the DuckDB oracle in run.py. */
  def checks(): Unit = {
    val l = new Layers(Manifest.dir)
    def win(k: String): Seq[Double] = Manifest.sizes(Manifest.dir)(k)
      .asInstanceOf[Seq[Any]].map(_.toString.toDouble)
    def write(name: String, df: DataFrame): Unit =
      ctx.op(s"check_write.$name")(
        df.write.mode("overwrite").parquet(s"${ctx.work}/checks/$name"))
    write("snap", Graft.snapToNearest(
      within(l.points.select("id", "x", "y"), win("window_points")),
      l.targets, num("snap_frame")))
    val bw = inside(l.boxes, win("window_boxes"))
    write("intersects", Graft.intersectsByid(bw, bw, num("box_cell")))
    write("intersection_part",
      Graft.intersectionPart(bw, bw, num("box_cell")))
    write("find_borders", Graft.findBorders(inside(l.grid, win("window_grid")),
      "name", num("border_cell"), num("border_tol")))
    if (ctx.traceRun) ctx.op("snapped_ratio") {
      val r = Graft.snapToNearest(l.points.select("id", "x", "y"), l.targets,
        num("snap_frame")).agg(avg(col("snapped").cast("double"))).head()
      ctx.out("snapped_ratio") = r.getDouble(0)
    }
  }
}
