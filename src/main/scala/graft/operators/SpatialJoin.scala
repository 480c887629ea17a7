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
 *    exploded cover automatically under the broadcast threshold, and a
 *    hot cell then costs nothing extra (no shuffle on the point side).
 *  - hot cells (capital-city skew) in the shuffle regime: AQE's skew-join
 *    split is the policy. It measures each shuffle partition and splits
 *    one above the skew threshold across several tasks by its map
 *    outputs, replicating the cover side for that partition only — the
 *    partitioning follows the data it observes, so no caller-set salt
 *    key is needed (SpatialOpsSpec pins `SortMergeJoin(skew=true)` and
 *    the brute-force row set on the skewed fixture).
 *  - `res` trades cover size (4^res cells/polygon) against join
 *    selectivity (finer cells → fewer false pairs for the PIP to reject).
 */
object SpatialJoin {

  /**
   * @param points   any DataFrame with `latCol`/`lonCol` double columns
   * @param polygons any DataFrame with `ringCol`: array<double> [x,y,…]
   * @param res      blocking-cell resolution
   * @return points × polygons pairs where the point is strictly inside;
   *         all point and polygon columns preserved.
   */
  def apply(
      points: DataFrame,
      polygons: DataFrame,
      latCol: Column,
      lonCol: Column,
      ringCol: Column,
      res: Int): DataFrame = {
    val pts = points.withColumn("__cell", cell_id(latCol, lonCol, res))
    // generator output column is named cover_cell by the expression schema
    val cover = polygons.withColumn("__pidx", edge_index(ringCol))
      .select(col("*"), cell_cover(ringCol, res).as("__cover_cell"))
    pts.join(cover, pts("__cell") === cover("__cover_cell"), "inner")
      .where(point_in_polygon_indexed(lonCol, latCol, ringCol, col("__pidx")))
      .drop("__cell", "__cover_cell", "__pidx")
  }
}
