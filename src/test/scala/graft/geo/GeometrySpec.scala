package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PipKernel

class GeometrySpec extends AnyFunSuite {
  // unit square
  private val square = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0)
  // diamond centered (5,5), half-widths 4
  private val diamond = Array(9.0, 5.0, 5.0, 9.0, 1.0, 5.0, 5.0, 1.0)
  // concave "L"
  private val ell = Array(0.0, 0.0, 10.0, 0.0, 10.0, 4.0, 4.0, 4.0, 4.0, 10.0, 0.0, 10.0)

  test("point in convex polygons") {
    assert(Geometry.pointInPolygon(5, 5, square))
    assert(!Geometry.pointInPolygon(11, 5, square))
    assert(!Geometry.pointInPolygon(-0.1, 5, square))
    assert(Geometry.pointInPolygon(5, 5, diamond))
    assert(Geometry.pointInPolygon(8.5, 5.0, diamond))
    assert(!Geometry.pointInPolygon(8.5, 8.5, diamond)) // corner of bbox, outside diamond
  }

  test("concave polygon") {
    assert(Geometry.pointInPolygon(2, 8, ell))
    assert(Geometry.pointInPolygon(8, 2, ell))
    assert(!Geometry.pointInPolygon(8, 8, ell)) // the notch
  }

  test("diamond membership agrees with |dx|/w + |dy|/h < 1 (the SQL-oracle form)") {
    val rnd = new java.util.Random(42L)
    (0 until 20000).foreach { _ =>
      val x = rnd.nextDouble() * 12 - 1
      val y = rnd.nextDouble() * 12 - 1
      val alg = math.abs(x - 5.0) / 4.0 + math.abs(y - 5.0) / 4.0
      if (math.abs(alg - 1.0) > 1e-9) { // off-boundary points only
        assert(Geometry.pointInPolygon(x, y, diamond) == (alg < 1.0), s"($x,$y) alg=$alg")
      }
    }
  }

  test("indexed PIP decision-identical to plain ray casting (property)") {
    // the engine kernel on random closed polylines (validity not required
    // — the even-odd parity rule is well-defined for ANY ring), with a
    // NULL index, the derived one and forced band counts, probed on a grid
    // hitting band boundaries, vertex y-levels and points outside the
    // y-extent; the reference is the pure-array ray cast
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 200) {
      val n = 3 + rnd.nextInt(40)
      val ring = Array.fill(2 * n)(rnd.nextDouble() * 20 - 5)
      val ys = (0 until 32).map(k => -6.0 + 0.7 * k) ++
        (0 until n).map(i => ring(2 * i + 1)) // exact vertex y-levels
      val xs = (0 until 17).map(k => -6.0 + 1.3 * k)
      for (bands <- PipKernel.bandChoices(ring, Seq(1, 2, 7, 32)); y <- ys; x <- xs) {
        assert(PipKernel.decide(x, y, ring, bands) == Geometry.pointInPolygon(x, y, ring),
          s"trial=$trial bands=$bands p=($x,$y)")
      }
    }
  }

  test("indexed PIP decision-identical on many-edge coastline rings") {
    // the regime the derived index is for (BASELINE.md §edge-index
    // measures the probe at 8-2048 vertices) — same identity contract on
    // the bench fixture's own ring generator, probed on a dense grid plus
    // every vertex y-level
    for (vertices <- Seq(8, 64, 256, 1024)) {
      val ring = graft.sources.Fixtures.coastRing(10.0, -20.0, 2.0, vertices)
      val n = ring.length / 2
      val ys = (0 until 60).map(k => -23.5 + 0.12 * k) ++
        (0 until n by math.max(1, n / 64)).map(i => ring(2 * i + 1))
      val xs = (0 until 30).map(k => 6.5 + 0.24 * k)
      for (bands <- PipKernel.bandChoices(ring, Seq(4, 64)); y <- ys; x <- xs) {
        assert(PipKernel.decide(x, y, ring, bands) == Geometry.pointInPolygon(x, y, ring),
          s"v=$vertices bands=$bands p=($x,$y)")
      }
    }
  }

  test("bbox") {
    assert(Geometry.bbox(diamond) == ((1.0, 1.0, 9.0, 9.0)))
  }

  test("cellCover is a superset of cells containing interior points") {
    val rnd = new java.util.Random(7L)
    Seq(square, diamond, ell).foreach { ring =>
      val res = 6
      val cover = Geometry.cellCover(ring, res).toSet
      (0 until 5000).foreach { _ =>
        val x = rnd.nextDouble() * 12 - 1
        val y = rnd.nextDouble() * 12 - 1
        if (Geometry.pointInPolygon(x, y, ring)) {
          val c = CellIndex.latLonToCell(y, x, res)
          assert(cover.contains(c), s"cover misses cell of interior point ($x,$y)")
        }
      }
    }
  }

  test("cellCover is reasonably tight (not the whole bbox for the diamond)") {
    val res = 8
    val cover = Geometry.cellCover(diamond, res)
    val (xmin, ymin, xmax, ymax) = Geometry.bbox(diamond)
    val c0 = CellIndex.latLonToCell(ymin, xmin, res)
    val c1 = CellIndex.latLonToCell(ymax, xmax, res)
    val bboxCells = (CellIndex.ix(c1) - CellIndex.ix(c0) + 1) * (CellIndex.iy(c1) - CellIndex.iy(c0) + 1)
    assert(cover.length < bboxCells * 0.8, s"${cover.length} vs bbox $bboxCells")
  }

  test("cellCover fails before allocating when the bbox holds too many cells") {
    // a 2°×2° diamond: ~134k cells at res 16 (~265k bbox cells), ~550M at res 22
    val small = Array(1.0, 0.0, 0.0, 1.0, -1.0, 0.0, 0.0, -1.0)
    val at16 = Geometry.cellCover(small, 16).length
    assert(at16 > 130000 && at16 < 140000, at16)
    val e = intercept[IllegalArgumentException](Geometry.cellCover(small, 22))
    // (2 / 360 · 2^22 + 1) × (2 / 180 · 2^22 + 1) bbox cells
    val want = ((2.0 / 360 * (1L << 22)).toLong + 1) * ((2.0 / 180 * (1L << 22)).toLong + 1)
    assert(want > Geometry.MaxCoverCells)
    assert(e.getMessage.contains("res 22") && e.getMessage.contains(s"$want cells") &&
      e.getMessage.contains("lon [-1.0, 1.0] lat [-1.0, 1.0]"), e.getMessage)
  }

  test("segment-box intersection") {
    assert(Geometry.segmentIntersectsBox(-1, 5, 11, 5, 0, 0, 10, 10)) // crosses through
    assert(Geometry.segmentIntersectsBox(5, 5, 6, 6, 0, 0, 10, 10))   // inside
    assert(!Geometry.segmentIntersectsBox(-5, -5, -1, -1, 0, 0, 10, 10))
    assert(!Geometry.segmentIntersectsBox(11, 0, 11, 10, 0, 0, 10, 10))
    assert(!Geometry.segmentIntersectsBox(-2, 12, 12, 12.5, 0, 0, 10, 10)) // line above box
  }

  test("degenerate rings") {
    assert(!Geometry.pointInPolygon(0, 0, Array(1.0, 1.0)))
    assert(!Geometry.pointInPolygon(0, 0, Array(1.0, 1.0, 2.0, 2.0)))
  }

  test("cellCover reads the ring's vertices as pointInPolygon does: odd lengths, under 3 vertices") {
    // a trailing odd value is no vertex: the odd ring covers what its
    // three vertices cover, and bbox ignores the extra value
    val odd = Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 7.0)
    assert(Geometry.bbox(odd) == ((0.0, 0.0, 1.0, 1.0)))
    assert(Geometry.cellCover(odd, 8).sameElements(Geometry.cellCover(odd.init, 8)))
    // fewer than 3 vertices bound no interior point: no cell, as
    // pointInPolygon is false everywhere for them
    for (ring <- Seq(Array.emptyDoubleArray, Array(0.0, 0.0, 1.0), Array(0.0, 0.0, 1.0, 1.0, 2.0)))
      assert(Geometry.cellCover(ring, 8).isEmpty, ring.mkString(","))
  }
}
