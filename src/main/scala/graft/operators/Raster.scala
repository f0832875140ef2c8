package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Raster operators over the cell-relational form (r: Long, c: Long,
 * v: Double) — the engine's mapping of WhiteboxRaster grids
 * (SURVEY.md §1.1). Each function is one reference tool re-expressed
 * as a declarative Spark transform; NoData is represented as absent
 * rows (sparse relational form), which matches the reference's
 * `if (z != noData)` guard pattern without sentinel arithmetic.
 *
 * Scale note: every operator here shuffles only on (r, c)-derived
 * keys, so at cluster scale the grid partitions by row-block ranges
 * (repartitionByRange on r) exactly like the reference's row-ordered
 * priority-queue writes (VectorPolygonsToRaster.java:346-360).
 */
object Raster {

  /**
   * VectorPointsToRaster (ConversionTools, :315-473): bin points into
   * cells with every assignment rule at once — minimum / maximum /
   * sum / count / first / last (deterministic by an explicit order
   * key, min_by/max_by, per SURVEY.md §2.12 note).
   * Input needs (binR, binC, value, orderKey) columns.
   */
  def rasterizePoints(points: DataFrame, binR: Column, binC: Column,
                      value: Column, orderKey: Column): DataFrame =
    points.groupBy(binR.as("r"), binC.as("c")).agg(
      count(lit(1)).as("n"),
      min(value).as("vmin"),
      max(value).as("vmax"),
      sum(round(value * 100).cast("long")).as("sum_cents"),
      min_by(value, orderKey).as("vfirst"),
      max_by(value, orderKey).as("vlast"))

  /**
   * ExtractStatistics (StatsTools:209-443) zonal statistics: value
   * column grouped by zone id — average/min/max/range/total(+count).
   * stddev omitted from the exact contract (float-algorithm
   * divergence across engines); it is available via stddev_samp.
   */
  def zonalStats(cells: DataFrame, zone: Column,
                 value: Column): DataFrame =
    cells.groupBy(zone.as("zone")).agg(
      count(lit(1)).as("n"),
      min(value).as("vmin"),
      max(value).as("vmax"),
      (max(value) - min(value)).as("vrange"),
      sum(round(value * 100).cast("long")).as("sum_cents"))

  /**
   * FilterMean (ImageProcessingTools, FilterMean.java:272-284): mean
   * over the in-grid (non-NoData) n x n neighbourhood. Expressed as a
   * scatter: each cell contributes to its 9 targets, then the
   * aggregate keeps only targets that exist in the grid (matching the
   * reference: out-of-grid reads return NoData and are skipped).
   */
  def focalMean(grid: DataFrame, radius: Int = 1): DataFrame =
    // delegates to the generic focal engine (no reflection = the
    // skip-NoData semantics this operator always had); requires
    // non-negative cell coordinates
    Focal.filterMean(grid, radius, reflect = false,
      Long.MaxValue / 4, Long.MaxValue / 4)

  /**
   * Slope (TerrainAnalysisTools/Slope.java:218-258): Horn's finite
   * differences on the 8-neighbourhood; edges reflected like the
   * reference (Slope.java:223 isReflectedAtEdges = true), unresolved
   * reads take the centre value (NoData-substitution at :250).
   * Emitted in radians (atan of rise/run), gridRes = 1. One-shuffle
   * stencil via the shared scatter gather.
   */
  def hornSlope(grid: DataFrame, nRows: Long, nCols: Long): DataFrame = {
    val df = Terrain.gatherNeighbors(grid, reflect = true, nRows, nCols)
    val withN = (0 until 8).foldLeft(df) { (d, i) =>
      d.withColumn(s"m$i", coalesce(col(s"n$i"), col("v")))
    }
    withN.select(col("r"), col("c"),
      round(expr(
        "atan(sqrt(((m2 - m4 + 2 * (m1 - m5) + m0 - m6) / 8.0) * " +
          "((m2 - m4 + 2 * (m1 - m5) + m0 - m6) / 8.0) + " +
          "((m6 - m4 + 2 * (m7 - m3) + m0 - m2) / 8.0) * " +
          "((m6 - m4 + 2 * (m7 - m3) + m0 - m2) / 8.0)))"), 6)
        .as("slope_rad"))
  }

  /**
   * InterpolationIDW (RasterCreation/InterpolationIDW.java:483-565):
   * inverse-distance-squared weights within `radius` of each target
   * cell; exact hits (d2 == 0) short-circuit to the point value
   * (:545-552, deterministic via min point id). Targets with no point
   * in range are NoData (absent), matching the reference.
   * targets: (r, c, x, y); points: (pid, px, py, pval).
   */
  def idw(targets: DataFrame, points: DataFrame,
          radius: Double): DataFrame = {
    val joined = SpatialJoins.distanceJoin(targets, points, radius,
      lx = "x", ly = "y", rx = "px", ry = "py")
    joined.groupBy("r", "c").agg(
      round(
        when(max(when(col("dist2") === 0, 1).otherwise(0)) === 1,
          min_by(col("pval"), when(col("dist2") === 0, col("pid"))
            .otherwise(lit(Long.MaxValue))))
          .otherwise(
            sum(when(col("dist2") =!= 0, col("pval") / col("dist2"))) /
              sum(when(col("dist2") =!= 0, lit(1.0) / col("dist2")))),
          6).as("idw"))
  }

  /**
   * Reclass (GISTools/Reclass.java): assign-new-value range table as
   * a when/otherwise chain. ranges: (from, toExcl, newVal).
   */
  def reclass(value: Column,
              ranges: Seq[(Double, Double, Double)]): Column =
    ranges.foldLeft(lit(Double.NaN)) { case (acc, (lo, hi, nv)) =>
      when(value >= lo && value < hi, nv).otherwise(acc)
    }

  /**
   * Aggregate (RasterCreation/Aggregate.java:190-270): block
   * downscale by integer factors with mean/min/max/count.
   */
  def blockAggregate(grid: DataFrame, fr: Int, fc: Int): DataFrame =
    grid.groupBy(expr(s"r DIV $fr").as("br"), expr(s"c DIV $fc").as("bc"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("vmin"),
        max(col("v")).as("vmax"), round(avg(col("v")), 6).as("vavg"))

  /**
   * VectorPolygonsToRaster (ConversionTools, :395-443 scanline
   * even-odd fill; holes carved by parity :449-530): rasterize
   * polygons onto the lat/lon bin lattice at `res`. Distributed per
   * polygon: a flatMap walks the rows of the polygon's bbox, finds
   * the even-odd edge crossings at the row's center latitude, and
   * emits the cells whose center longitude falls inside a crossing
   * pair — exactly the cell-center parity semantics of the
   * reference's scanline (rows at cell centers, isBetween + linear
   * interpolation xPrime).
   *
   * polys: (poly_id: Int, xs, ys, parts). Output (lat_bin, lon_bin,
   * poly_id); overlaps resolved by max poly_id (record order rule).
   */
  def rasterizePolygons(polys: DataFrame, res: Int): DataFrame = {
    val spark = polys.sparkSession
    import spark.implicits._
    val nLat = graft.core.CellIndex.latBins(res)
    val nLon = graft.core.CellIndex.lonBins(res)
    val hDeg = 180.0 / nLat
    val wDeg = 360.0 / nLon
    polys.select(col("poly_id"), col("xs"), col("ys"), col("parts"))
      .as[(Int, Seq[Double], Seq[Double], Seq[Int])]
      .flatMap { case (pid, xsS, ysS, partsS) =>
        val xs = xsS.toArray
        val ys = ysS.toArray
        val parts = partsS.toArray
        val minLat = ys.min; val maxLat = ys.max
        val minLon = xs.min; val maxLon = xs.max
        val rb0 = graft.core.CellIndex.latBin(minLat, res)
        val rb1 = graft.core.CellIndex.latBin(maxLat, res)
        (rb0 to rb1).iterator.flatMap { rb =>
          val cy = -90.0 + (rb + 0.5) * hDeg
          // even-odd crossings of the horizontal line y = cy
          val crossings = scala.collection.mutable.ArrayBuffer[Double]()
          var p = 0
          while (p < parts.length) {
            val start = parts(p)
            val end = if (p + 1 < parts.length) parts(p + 1) else xs.length
            var i = start
            var j = end - 1
            while (i < end) {
              val yi = ys(i); val yj = ys(j)
              if ((yi > cy) != (yj > cy)) {
                crossings += (xs(j) - xs(i)) * (cy - yi) / (yj - yi) + xs(i)
              }
              j = i; i += 1
            }
            p += 1
          }
          val sorted = crossings.sorted
          sorted.grouped(2).flatMap { pair =>
            if (pair.length < 2) Iterator.empty
            else {
              val xa: Double = pair(0)
              val xb: Double = pair(1)
              // cells whose center lon lies in (xa, xb)
              val c0 = math.ceil((xa + 180.0) / wDeg - 0.5).toLong
              val c1 = math.floor((xb + 180.0) / wDeg - 0.5).toLong
              (math.max(c0, 0L) to math.min(c1, nLon - 1)).iterator
                .map(cb => (rb, cb, pid))
            }
          }
        }
      }.toDF("lat_bin", "lon_bin", "poly_id")
      .groupBy("lat_bin", "lon_bin")
      .agg(max(col("poly_id")).as("poly_id"))
  }

  /**
   * VectorLinesToRaster (ConversionTools/VectorLinesToRaster.java:
   * 402-443): per line part, mark the cell of every intersection of
   * each segment with the cell-centre ROWS of its bbox
   * (xPrime = x1 + (cy-y1)/(y2-y1)*(x2-x1)) and, symmetrically, with
   * the cell-centre COLUMNS (yPrime). `isBetween` is inclusive.
   * Overlaps resolve to the maximum line id (record-order rule, like
   * rasterizePolygons). No antimeridian wrap (coverBBox contract).
   * lines: (line_id: Long, xs, ys, parts).
   */
  def rasterizeLines(lines: DataFrame, res: Int): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val nLat = graft.core.CellIndex.latBins(res)
    val nLon = graft.core.CellIndex.lonBins(res)
    val hDeg = 180.0 / nLat
    val wDeg = 360.0 / nLon
    def between(v: Double, a: Double, b: Double): Boolean =
      (v - a) * (v - b) <= 0
    lines.select(col("line_id"), col("xs"), col("ys"), col("parts"))
      .as[(Long, Seq[Double], Seq[Double], Seq[Int])]
      .flatMap { case (id, xsS, ysS, partsS) =>
        val xs = xsS.toArray; val ys = ysS.toArray
        val parts = partsS.toArray
        val bounds = parts :+ xs.length
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        parts.indices.foreach { p =>
          val s = bounds(p); val e = bounds(p + 1)
          val minY = ys.slice(s, e).min; val maxY = ys.slice(s, e).max
          val minX = xs.slice(s, e).min; val maxX = xs.slice(s, e).max
          // row crossings
          var rb = graft.core.CellIndex.latBin(minY, res)
          val rb1 = graft.core.CellIndex.latBin(maxY, res)
          while (rb <= rb1) {
            val cy = -90.0 + (rb + 0.5) * hDeg
            var i = s
            while (i < e - 1) {
              if (between(cy, ys(i), ys(i + 1)) && ys(i + 1) != ys(i)) {
                val xPrime = xs(i) + (cy - ys(i)) / (ys(i + 1) - ys(i)) *
                  (xs(i + 1) - xs(i))
                out += ((rb, graft.core.CellIndex.lonBin(xPrime, res), id))
              }
              i += 1
            }
            rb += 1
          }
          // column crossings
          var cb = graft.core.CellIndex.lonBin(minX, res)
          val cb1 = graft.core.CellIndex.lonBin(maxX, res)
          while (cb <= cb1) {
            val cx = -180.0 + (cb + 0.5) * wDeg
            var i = s
            while (i < e - 1) {
              if (between(cx, xs(i), xs(i + 1)) && xs(i + 1) != xs(i)) {
                val yPrime = ys(i) + (cx - xs(i)) / (xs(i + 1) - xs(i)) *
                  (ys(i + 1) - ys(i))
                out += ((graft.core.CellIndex.latBin(yPrime, res), cb, id))
              }
              i += 1
            }
            cb += 1
          }
        }
        out
      }.toDF("lat_bin", "lon_bin", "line_id")
      .groupBy("lat_bin", "lon_bin")
      .agg(max(col("line_id")).as("line_id"))
  }

  /**
   * Contour crossings (TerrainAnalysisTools/Contour.java marching
   * core): for each iso level, the linear-interpolated crossing
   * position on every cell edge whose endpoint values straddle the
   * level — the distributed geometry content of the contour tool
   * (polyline assembly across tiles is the SURVEY §7.4 HARD v2 item).
   * Output (level, et 'h'/'v', r, c, t) where t in [0,1) is the
   * fractional position along the edge from (r, c).
   */
  def contourCrossings(grid: DataFrame,
                       levels: Seq[Double]): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val lv = levels.toDF("lvl")
    val right = grid.select(col("r"), (col("c") - 1).as("c"),
      col("v").as("v2"))
    val below = grid.select((col("r") - 1).as("r"), col("c"),
      col("v").as("v3"))
    // NOTE: `t` is emitted unrounded. The crossing fraction is a ratio
    // of small integers; for denominators like 2^7 the exact value
    // lands on a .5 rounding tie at 6 decimals, where Spark
    // (BigDecimal HALF_UP) and other engines (ties-to-even) disagree.
    // The raw double is bit-identical everywhere (sub/div are IEEE
    // correctly-rounded on identical inputs), so no rounding is the
    // deterministic contract.
    val h = grid.join(right, Seq("r", "c")).crossJoin(broadcast(lv))
      .where((col("v") >= col("lvl")) =!= (col("v2") >= col("lvl")))
      .select(col("lvl"), lit("h").as("et"), col("r"), col("c"),
        ((col("lvl") - col("v")) / (col("v2") - col("v"))).as("t"))
    val v = grid.join(below, Seq("r", "c")).crossJoin(broadcast(lv))
      .where((col("v") >= col("lvl")) =!= (col("v3") >= col("lvl")))
      .select(col("lvl"), lit("v").as("et"), col("r"), col("c"),
        ((col("lvl") - col("v")) / (col("v3") - col("v"))).as("t"))
    h.unionByName(v)
  }

  /**
   * Clump (WhiteboxAPI/algorithms/Clump.java:92-210): connected-
   * component labelling of a masked grid (8-connectivity). Label =
   * min linearised cell id (r * width + c) in the component.
   *
   * Scale design — per-tile CCL + label-graph merge (the SURVEY §2.10
   * prescription): union-find runs SEQUENTIALLY inside each tile
   * (one `flatMapGroups` pass over `tileSize`^2 cells), then only the
   * cross-tile label adjacency graph — boundary labels, orders of
   * magnitude smaller than the cell grid — iterates hash-min with
   * pointer jumping. Rounds scale with log of the component diameter
   * IN TILES, not its cell diameter: the previous per-cell min-label
   * propagation needed O(cell diameter) full-grid shuffles.
   */
  def clump(mask: DataFrame, width: Long, tileSize: Int = 16): DataFrame = {
    val spark = mask.sparkSession
    import spark.implicits._
    val T = tileSize.toLong
    val cells = mask.select(col("r"), col("c")).as[(Long, Long)]
      .localCheckpoint(true)
    // 1. sequential CCL inside each tile
    val labeled = cells
      .groupByKey(t => (Math.floorDiv(t._1, T), Math.floorDiv(t._2, T)))
      .flatMapGroups { (_, it) => localCcl(it.toSeq, width) }
      .toDF("r", "c", "lbl")
      .localCheckpoint(true)
    // 2. cross-tile label adjacency: only boundary cells probe their
    //    8 neighbours; same-tile neighbours already share a label
    val off = (-1 to 1).flatMap(dr => (-1 to 1).map(dc => (dr, dc)))
      .filterNot(o => o._1 == 0 && o._2 == 0).toDF("dr", "dc")
    val boundary = labeled.where(
      pmod(col("r"), lit(T)) === 0 || pmod(col("r"), lit(T)) === T - 1 ||
      pmod(col("c"), lit(T)) === 0 || pmod(col("c"), lit(T)) === T - 1)
    val probes = boundary.crossJoin(broadcast(off))
      .select((col("r") + col("dr")).as("r"),
        (col("c") + col("dc")).as("c"), col("lbl").as("la"))
    val edges0 = probes.join(labeled, Seq("r", "c"))
      .select(col("la"), col("lbl").as("lb"))
      .where(col("la") =!= col("lb")).distinct()
    // 3. resolve the label graph to per-component min labels via the
    //    shared size-adaptive CC labeller (one-task union-find below
    //    Terrain.localFixpointMaxRows edges, hash-min + pointer
    //    jumping above it — the r5 rewrite of the inline multi-round
    //    loop, which cost 4-6 scheduled jobs PER ROUND even for a
    //    ~50-label graph)
    val selfLoops = labeled.select(col("lbl").as("a"),
      col("lbl").as("b")).distinct()
    val comp = GraphCC.label(
      edges0.select(col("la").as("a"), col("lb").as("b"))
        .unionByName(selfLoops))
      .select(col("node").as("lbl"), col("comp"))
    // 4. relabel cells through the resolved roots
    labeled.join(comp, Seq("lbl"))
      .select(col("r"), col("c"), col("comp").as("comp_id"))
  }

  /** Union-find CCL over one tile's cells (8-connectivity), labels =
    * min global cell id per local component. */
  private def localCcl(cells: Seq[(Long, Long)],
                       width: Long): Iterator[(Long, Long, Long)] = {
    val ids = cells.map { case (r, c) => (r, c) -> (r * width + c) }.toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var cur = x
      while (parent(cur) != r) { val nxt = parent(cur); parent(cur) = r; cur = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.values.foreach(id => parent(id) = id)
    cells.foreach { case (r, c) =>
      val id = ids((r, c))
      for (dr <- -1 to 1; dc <- -1 to 1 if !(dr == 0 && dc == 0))
        ids.get((r + dr, c + dc)).foreach(nid => union(id, nid))
    }
    cells.iterator.map { case (r, c) =>
      (r, c, find(ids((r, c))))
    }
  }
}
