package graft.geo

/**
 * H3/S2-style 64-bit hierarchical cell index over an equirectangular
 * lat/lon grid (built from scratch — no external geo libs exist in this
 * sandbox, and the north rule demands a from-scratch design).
 *
 * Layout (64 bits): `id = (res << 58) | (ix << 29) | iy`
 *   - `res` ∈ [0, 29]: resolution; the world is a 2^res × 2^res grid
 *   - `ix` = floor(((lon + 180) / 360) * 2^res), clamped to [0, 2^res)
 *   - `iy` = floor(((lat +  90) / 180) * 2^res), clamped to [0, 2^res)
 *
 * Why this layout (scale rationale):
 *   - parent/children/ring are pure bit/int ops → `doGenCode`-able, stays
 *     inside whole-stage codegen when encoding 10^12 rows (SURVEY §7.3);
 *   - hierarchy is exact: parent(cell(p, r)) == cell(p, r-1) with NO
 *     floating-point recompute (multiplication by powers of two is exact
 *     in IEEE-754, so the double formula agrees with the bit-shift — this
 *     identity is property-tested and is what lets a DuckDB SQL oracle
 *     reproduce cell ids with plain arithmetic);
 *   - ix/iy kept un-interleaved: parent = shift, ring-k = ±k box, and a
 *     RANGE partition on id co-locates same-resolution latitude bands
 *     while HASH partitioning on the full id spreads uniformly.
 *
 * All formulas are float-deterministic: one rounding per division, then
 * exact power-of-two scaling; no trig anywhere.
 */
object CellIndex {
  final val MaxRes = 29
  private final val ResShift = 58
  private final val IxShift = 29
  private final val Mask29 = (1L << 29) - 1

  /** The resolutions the layout holds: outside [0, MaxRes] an encoded id
   * is garbage (res 30 spills into the res field, res 64 shifts to 0). */
  def validRes(res: Int): Boolean = res >= 0 && res <= MaxRes

  /** Encode a point at `res`. Hot path — called per row per entity. */
  def latLonToCell(lat: Double, lon: Double, res: Int): Long = {
    val n = 1L << res
    var ix = (((lon + 180.0) / 360.0) * n.toDouble).toLong
    var iy = (((lat + 90.0) / 180.0) * n.toDouble).toLong
    if (ix < 0) ix = 0; if (ix >= n) ix = n - 1
    if (iy < 0) iy = 0; if (iy >= n) iy = n - 1
    (res.toLong << ResShift) | (ix << IxShift) | iy
  }

  @inline def res(cell: Long): Int = (cell >>> ResShift).toInt
  @inline def ix(cell: Long): Long = (cell >>> IxShift) & Mask29
  @inline def iy(cell: Long): Long = cell & Mask29
  @inline def make(r: Int, x: Long, y: Long): Long = (r.toLong << ResShift) | (x << IxShift) | y

  /** Parent at `parentRes` (≤ res). Pure shifts — exact hierarchy. */
  def parent(cell: Long, parentRes: Int): Long = {
    val r = res(cell)
    require(parentRes >= 0 && parentRes <= r, s"parentRes $parentRes out of [0, $r]")
    val d = r - parentRes
    make(parentRes, ix(cell) >>> d, iy(cell) >>> d)
  }

  /** The 4 children one level down. */
  def children(cell: Long): Array[Long] = {
    val r = res(cell)
    require(r < MaxRes, s"cannot descend below MaxRes=$MaxRes")
    val x = ix(cell) << 1; val y = iy(cell) << 1
    Array(make(r + 1, x, y), make(r + 1, x + 1, y), make(r + 1, x, y + 1), make(r + 1, x + 1, y + 1))
  }

  /** Chebyshev ring k around `cell` (k=0 → the cell itself): all cells at
   * the same resolution with max(|dx|,|dy|) == k. Longitude wraps;
   * latitude clamps (cells off the pole are dropped). Deterministic order:
   * row-major by (dy, dx). */
  def ring(cell: Long, k: Int): Array[Long] = {
    if (k == 0) return Array(cell)
    val r = res(cell); val n = 1L << r
    val cx = ix(cell); val cy = iy(cell)
    val wrapDegenerate = 2L * k + 1 >= n // a ±k x-span wraps onto itself
    val out = new scala.collection.mutable.LinkedHashSet[Long]
    var dy = -k
    while (dy <= k) {
      val y = cy + dy
      if (y >= 0 && y < n) {
        if (dy == -k || dy == k) {
          // |dy| = k dominates: every x in the ±k span is at distance k
          if (wrapDegenerate) {
            var x = 0L
            while (x < n) { out += make(r, x, y); x += 1 }
          } else {
            var dx = -k
            while (dx <= k) { out += make(r, java.lang.Math.floorMod(cx + dx, n), y); dx += 1 }
          }
        } else if (2L * k <= n) {
          // middle rows: cx±k has wrap-Chebyshev distance k only when
          // k ≤ n/2 — beyond that the wrapped cell belongs to ring n-k
          // (emitting it would DUPLICATE across rings; kNN counts it twice)
          out += make(r, java.lang.Math.floorMod(cx - k, n), y)
          out += make(r, java.lang.Math.floorMod(cx + k, n), y)
        }
      }
      dy += 1
    }
    out.toArray
  }

  /** Disk of radius k: union of rings 0..k. */
  def disk(cell: Long, k: Int): Array[Long] =
    (0 to k).iterator.flatMap(ring(cell, _)).toArray.distinct

  /** All cells with Chebyshev distance in [kFrom, kTo] — the
   * geometric-growth band kNN explodes per round. Distinct and
   * deterministic order (ring emission is cross-ring duplicate-free by
   * the wrap rules above; the set keeps the contract explicit). */
  def diskBand(cell: Long, kFrom: Int, kTo: Int): Array[Long] = {
    val out = new scala.collection.mutable.LinkedHashSet[Long]
    var k = math.max(kFrom, 0)
    while (k <= kTo) { ring(cell, k).foreach(out += _); k += 1 }
    out.toArray
  }

  /** Cell bounds in degrees: (lonMin, latMin, lonMax, latMax). */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val r = res(cell); val n = (1L << r).toDouble
    val x = ix(cell).toDouble; val y = iy(cell).toDouble
    (x / n * 360.0 - 180.0, y / n * 180.0 - 90.0,
      (x + 1) / n * 360.0 - 180.0, (y + 1) / n * 180.0 - 90.0)
  }

  /** Scalar center accessors (separate statics so codegen emits one flat
   * call with no tuple boxing). */
  def centerLat(cell: Long): Double = {
    val r = res(cell); val n = (1L << r).toDouble
    (iy(cell).toDouble + 0.5) / n * 180.0 - 90.0
  }
  def centerLon(cell: Long): Double = {
    val r = res(cell); val n = (1L << r).toDouble
    (ix(cell).toDouble + 0.5) / n * 360.0 - 180.0
  }

  /** Width/height of one cell in degrees at `res`. */
  def sizeDeg(res: Int): (Double, Double) = {
    val n = (1L << res).toDouble
    (360.0 / n, 180.0 / n)
  }

  /**
   * Lower bound on squared planar-degree distance from point p to any
   * point OUTSIDE the Chebyshev disk of radius k around p's cell — the
   * kNN ring-expansion termination bound (SURVEY §7.4-4): if the kth-best
   * candidate distance² ≤ this bound, no cell beyond ring k can improve.
   */
  def minDistSqBeyondDisk(lat: Double, lon: Double, res: Int, k: Int): Double = {
    val cell = latLonToCell(lat, lon, res)
    val (lonMin, latMin, lonMax, latMax) = bounds(cell)
    val (w, h) = sizeDeg(res)
    // distance from p to the disk's outer boundary box edges
    val dxl = (lon - lonMin) + k * w
    val dxr = (lonMax - lon) + k * w
    val dyb = (lat - latMin) + k * h
    val dyt = (latMax - lat) + k * h
    val m = math.min(math.min(dxl, dxr), math.min(dyb, dyt))
    m * m
  }
}
