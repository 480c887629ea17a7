package graft.geo

/**
 * Exact planar geometry over lon/lat degrees (from scratch; no geo libs).
 * Polygons are simple rings: Array[Double] of interleaved [x0,y0,x1,y1,…]
 * (x = lon, y = lat), implicitly closed (last vertex connects to first).
 * The interleaved-flat representation maps 1:1 onto Spark
 * ArrayType(DoubleType) — no struct boxing in the hot PIP loop.
 */
object Geometry {

  /**
   * Ray-casting point-in-polygon (even-odd rule), the exact predicate of
   * the two-phase spatial join (SURVEY §2.3 J5). Boundary behavior: uses
   * the standard half-open edge rule (`(yi > y) != (yj > y)` with strict
   * `x <` crossing test) so each horizontal line crossing is counted once;
   * points exactly ON an edge are implementation-defined (fixtures keep
   * query points off boundaries, FIXTURES.md F2).
   */
  def pointInPolygon(x: Double, y: Double, ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    if (n < 3) return false
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      if ((yi > y) != (yj > y)) {
        val xCross = (xj - xi) * (y - yi) / (yj - yi) + xi
        if (x < xCross) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /**
   * Y-banded edge interval index — the "interval-tree edge index" role
   * of the north rule's PIP refinement, in the flat-array form that maps
   * onto ONE ArrayType(DoubleType) column. Edges are bucketed into
   * `bands` equal y-bands of the ring's y-extent; a ray-cast at query y
   * only visits its band's edges (the straddle test inside the crossing
   * rule keeps exactness — a non-straddling edge in the band contributes
   * nothing, and every straddling edge's interval overlaps the band).
   * Worst case degrades to the plain scan (all edges in one band); for
   * real-world many-edge rings (coastlines) expected cost per candidate
   * drops from O(E) to O(E/bands).
   *
   * Encoding: [yMin, yMax, nBands, off_0 … off_nBands, id_0 … id_m]
   * (CSR offsets into the edge-id list; all values are exact in double).
   * Edge id i is the edge between vertex i and vertex (i-1+n)%n —
   * matching [[pointInPolygon]]'s loop orientation.
   */
  def yBandIndex(ring: Array[Double], bands: Int): Array[Double] = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val n = ring.length / 2
    var yMin = Double.MaxValue; var yMax = -Double.MaxValue
    var i = 0
    while (i < n) {
      val y = ring(2 * i + 1)
      if (y < yMin) yMin = y
      if (y > yMax) yMax = y
      i += 1
    }
    if (n == 0) { yMin = 0; yMax = 0 }
    val h = (yMax - yMin) / bands
    def bandOf(y: Double): Int =
      if (h <= 0) 0
      else math.min(bands - 1, math.max(0, ((y - yMin) / h).toInt))
    // count, prefix, fill (CSR)
    val counts = new Array[Int](bands)
    def edgeBands(i: Int)(f: Int => Unit): Unit = {
      val j = (i + n - 1) % n
      val yi = ring(2 * i + 1); val yj = ring(2 * j + 1)
      val lo = bandOf(math.min(yi, yj)); val hi = bandOf(math.max(yi, yj))
      var b = lo
      while (b <= hi) { f(b); b += 1 }
    }
    i = 0
    while (i < n) { edgeBands(i)(b => counts(b) += 1); i += 1 }
    val offsets = new Array[Int](bands + 1)
    i = 0
    while (i < bands) { offsets(i + 1) = offsets(i) + counts(i); i += 1 }
    val ids = new Array[Int](offsets(bands))
    val cursor = offsets.clone()
    i = 0
    while (i < n) { edgeBands(i)(b => { ids(cursor(b)) = i; cursor(b) += 1 }); i += 1 }
    val out = new Array[Double](3 + bands + 1 + ids.length)
    out(0) = yMin; out(1) = yMax; out(2) = bands.toDouble
    i = 0
    while (i <= bands) { out(3 + i) = offsets(i).toDouble; i += 1 }
    i = 0
    while (i < ids.length) { out(3 + bands + 1 + i) = ids(i).toDouble; i += 1 }
    out
  }

  /** Bounding box (lonMin, latMin, lonMax, latMax). */
  def bbox(ring: Array[Double]): (Double, Double, Double, Double) = {
    var xmin = Double.MaxValue; var ymin = Double.MaxValue
    var xmax = -Double.MaxValue; var ymax = -Double.MaxValue
    var i = 0
    while (i < ring.length / 2) { // a trailing odd value is no vertex
      val x = ring(2 * i); val y = ring(2 * i + 1)
      if (x < xmin) xmin = x; if (x > xmax) xmax = x
      if (y < ymin) ymin = y; if (y > ymax) ymax = y
      i += 1
    }
    (xmin, ymin, xmax, ymax)
  }

  /** Does segment (x1,y1)-(x2,y2) intersect the axis-aligned box? */
  def segmentIntersectsBox(x1: Double, y1: Double, x2: Double, y2: Double,
      bxMin: Double, byMin: Double, bxMax: Double, byMax: Double): Boolean = {
    // quick reject / accept
    if (math.max(x1, x2) < bxMin || math.min(x1, x2) > bxMax ||
        math.max(y1, y2) < byMin || math.min(y1, y2) > byMax) return false
    if ((x1 >= bxMin && x1 <= bxMax && y1 >= byMin && y1 <= byMax) ||
        (x2 >= bxMin && x2 <= bxMax && y2 >= byMin && y2 <= byMax)) return true
    // separating-axis test against the segment's line
    val dx = x2 - x1; val dy = y2 - y1
    def side(px: Double, py: Double): Double = dx * (py - y1) - dy * (px - x1)
    val s1 = side(bxMin, byMin); val s2 = side(bxMin, byMax)
    val s3 = side(bxMax, byMin); val s4 = side(bxMax, byMax)
    !((s1 > 0 && s2 > 0 && s3 > 0 && s4 > 0) || (s1 < 0 && s2 < 0 && s3 < 0 && s4 < 0))
  }

  /**
   * Most cells [[cellCover]] scans for one polygon: 2^20. A cover is one
   * array value in one row, built by one task, and the scan tests every
   * bbox cell against every edge; the cover grows 4× per resolution level,
   * so a polygon past this cap wants a coarser `res` (the exact PIP after
   * the equi-join keeps any res correct). 2^20 cells is 8 MiB of cell ids
   * and ~0.15 s of scanning for a 4-edge ring (one core of a 4 vCPU host);
   * a 2°×2° diamond stays under it up to res 16 (266k bbox cells, 133,956
   * kept), and at res 17 its bbox holds 1,064,340.
   */
  final val MaxCoverCells: Long = 1L << 20

  /**
   * Cover of a polygon at `res`: every cell that could contain an interior
   * point (superset guarantee — join correctness needs cover ⊇ truth; the
   * exact PIP after the equi-join removes false positives).
   * Refinement: a cell is kept iff its box center is inside, a polygon
   * edge intersects the cell box, or the cell contains a vertex. Cells
   * strictly interior are detected by the center test since interior cells
   * of a simple polygon with no crossing edge have all corners inside.
   *
   * A ring of fewer than 3 vertices covers no cell. Fails, before
   * allocating, when the bbox holds more than [[MaxCoverCells]] cells at `res`.
   */
  def cellCover(ring: Array[Double], res: Int): Array[Long] = {
    if (ring.length / 2 < 3) return Array.emptyLongArray
    val (xmin, ymin, xmax, ymax) = bbox(ring)
    val c0 = CellIndex.latLonToCell(ymin, xmin, res)
    val c1 = CellIndex.latLonToCell(ymax, xmax, res)
    val ix0 = CellIndex.ix(c0); val ix1 = CellIndex.ix(c1)
    val iy0 = CellIndex.iy(c0); val iy1 = CellIndex.iy(c1)
    val bboxCells = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    require(bboxCells <= MaxCoverCells,
      s"cell_cover at res $res: bbox lon [$xmin, $xmax] lat [$ymin, $ymax] holds " +
        s"$bboxCells cells, over the cap of $MaxCoverCells; use a coarser res")
    val out = new scala.collection.mutable.ArrayBuffer[Long](16)
    var x = ix0
    while (x <= ix1) {
      var y = iy0
      while (y <= iy1) {
        val cell = CellIndex.make(res, x, y)
        val (bxMin, byMin, bxMax, byMax) = CellIndex.bounds(cell)
        val cx = (bxMin + bxMax) / 2.0; val cy = (byMin + byMax) / 2.0
        var keep = pointInPolygon(cx, cy, ring)
        if (!keep) {
          // any edge intersecting the cell box?
          val n = ring.length / 2
          var i = 0
          var j = n - 1
          while (!keep && i < n) {
            keep = segmentIntersectsBox(ring(2 * j), ring(2 * j + 1), ring(2 * i), ring(2 * i + 1),
              bxMin, byMin, bxMax, byMax)
            j = i; i += 1
          }
        }
        if (keep) out += cell
        y += 1
      }
      x += 1
    }
    out.toArray
  }

  /** Squared planar distance in degrees. */
  @inline def distSq(x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1; val dy = y2 - y1
    dx * dx + dy * dy
  }

  /** Polygon centroid (arithmetic mean of vertices — matches the fixture
   * oracle's definition; NOT the area centroid). */
  def vertexCentroid(ring: Array[Double]): (Double, Double) = {
    val n = ring.length / 2
    var sx = 0.0; var sy = 0.0
    var i = 0
    while (i < ring.length) { sx += ring(i); sy += ring(i + 1); i += 2 }
    (sx / n, sy / n)
  }
}
