package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{cell_cover, cell_id, edge_index, point_in_polygon_indexed}

/**
 * Two-phase spatial join (the north rule's core operator; SURVEY §2.3 J5):
 *
 *   phase 1 (blocking): polygons fan out to their covering cells at `res`
 *   (CellCoverExpr generator); points encode to their single cell at `res`
 *   (codegen'd CellIdExpr). Equi-join on the cell id → hash join, shuffle
 *   ONLY on the 8-byte cell key.
 *
 *   phase 2 (refinement): exact ray-casting PIP on the surviving pairs
 *   (codegen'd PointInPolygonExpr). Each polygon row carries its ring's
 *   own y-banded edge index (`PipRt.edgeIndex`, built once per polygon
 *   before the cover explode): a many-edge ring (coastline) refines in
 *   ~16 edges per candidate instead of all of them, a small one carries
 *   NULL and scans every edge. Decision-identical either way.
 *
 * Correctness: a point lies in exactly one cell at `res`, and the cover is
 * a superset of all cells containing interior points (GeometrySpec), so
 * every true (point, polygon) pair survives phase 1 exactly once — no
 * dedup needed, and the output row set equals the brute-force oracle.
 *
 * Scale design (10^12 points, SURVEY §7.4-2):
 *  - polygon layers are typically ≪ points: Spark's planner broadcasts the
 *    exploded cover automatically under the broadcast threshold; at larger
 *    covers AQE picks shuffle-hash and splits skewed partitions.
 *  - hot cells (capital-city skew): `saltBuckets > 1` appends a salt key:
 *    points get pmod(xxhash64(lat, lon), S), the cover side explodes
 *    0..S-1. The join key becomes (cell, salt) — a hot cell's points
 *    spread over S partitions at the cost of S× the (small) cover side.
 *    AQE skew-join handles residual imbalance. The salt is DETERMINISTIC
 *    in the row's coordinates (SURVEY §7.4-3): a nondeterministic source
 *    (row id, rand) feeding a shuffle key breaks under stage retry — the
 *    recomputed map task re-salts rows differently and the resubmitted
 *    shuffle can duplicate or drop them. Coordinate-identical rows share
 *    a salt (they spread S-fold only across distinct coordinates) — the
 *    price of retry safety; a genuinely single-coordinate hot spot needs
 *    a finer `res`, which separates it by construction.
 *  - `res` trades cover size (4^res cells/polygon) against join
 *    selectivity (finer cells → fewer false pairs for the PIP to reject).
 */
object SpatialJoin {

  /**
   * @param points   any DataFrame with `latCol`/`lonCol` double columns
   * @param polygons any DataFrame with `ringCol`: array<double> [x,y,…]
   * @param res      blocking-cell resolution
   * @param saltBuckets >1 enables salting for hot-cell skew
   * @return points × polygons pairs where the point is strictly inside;
   *         all point and polygon columns preserved.
   */
  def apply(
      points: DataFrame,
      polygons: DataFrame,
      latCol: Column,
      lonCol: Column,
      ringCol: Column,
      res: Int,
      saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    val pts = points.withColumn("__cell", cell_id(latCol, lonCol, res))
    // generator output column is named cover_cell by the expression schema
    val cover = polygons.withColumn("__pidx", edge_index(ringCol))
      .select(col("*"), cell_cover(ringCol, res).as("__cover_cell"))
    val joined =
      if (saltBuckets == 1) {
        pts.join(cover, pts("__cell") === cover("__cover_cell"), "inner")
      } else {
        // salt = hash of the COORDINATES only (the columns the join key
        // derives from): still content-deterministic and retry-safe, but
        // a wide points frame doesn't pay to hash its payload columns per
        // row, and payload types xxhash64 can't digest (MAP) don't fail
        // the analysis. Identical coordinates share a salt — acceptable:
        // they land in the same cell anyway, and true full-row duplicates
        // were never spread either (the retry-safety trade-off).
        val ptsS = pts.withColumn("__salt",
          pmod(xxhash64(latCol, lonCol), lit(saltBuckets)).cast("int"))
        val coverS = cover.withColumn("__salt",
          explode(sequence(lit(0), lit(saltBuckets - 1))))
        ptsS.join(coverS,
          ptsS("__cell") === coverS("__cover_cell") && ptsS("__salt") === coverS("__salt"),
          "inner")
      }
    joined.where(point_in_polygon_indexed(lonCol, latCol, ringCol, col("__pidx")))
      .drop("__cell", "__cover_cell", "__salt", "__pidx")
  }
}
