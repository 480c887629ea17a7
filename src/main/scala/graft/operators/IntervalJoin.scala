package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Big×big point-in-interval join: `points.v ∈ [intervals.lo, intervals.hi]`
 * (inclusive, LongType domain — cents, micros, IPs, byte offsets). The
 * reference's only interval predicate is the per-file position lookup
 * (reference: src/mcp_server_tree_sitter/models/ast.py:87-109, a
 * driver-side loop) and its Spark form so far is a broadcast range join
 * (api/Engine.positionLookup) — fine while one side fits in memory.
 * This operator is the regime where NEITHER side broadcasts: Spark's
 * planner would fall back to BroadcastNestedLoopJoin (or a cartesian),
 * both of which are |points| × |intervals| at 100 TB.
 *
 * Plan: BANDING (the classic bin join). Pick a band width W; a point
 * lands in band floor(v / W), an interval replicates into each band it
 * overlaps (`sequence(floor(lo/W), floor(hi/W))` + explode — codegen'd
 * array scalar, built-in explode, same shape as the kNN ring bands).
 * Equi-join on the band key, then the exact BETWEEN refines. Each match
 * is produced exactly once (a point exists in exactly ONE band, and the
 * interval copy in that band is unique), so no dedup pass is needed —
 * unlike cover-based spatial blocking where a polygon's cells overlap.
 *
 * Cost model: shuffle volume = |points| + Σ span_i/W interval copies;
 * candidate pairs per band ≈ points_per_band × intervals_per_band. Set
 * `bandWidth` ≈ the TYPICAL interval length: much larger wastes
 * candidate comparisons (everything lands in few bands), much smaller
 * explodes long intervals into many copies. Both failure modes degrade
 * linearly, not quadratically — the operator never plans a nested loop
 * (IntervalJoinSpec pins the plan shape). Hot bands (many points AND
 * many long intervals at one value range) are ordinary shuffle-join
 * skew: AQE's skew-join split handles it, exactly as it does for the
 * spatial join's hot cells.
 *
 * Nulls never match (dropped at source); `lo > hi` intervals are empty
 * by definition and dropped by the empty `sequence` guard (`sequence(a,
 * b)` DESCENDS when a > b — the same trap CellIndex.ring hit — so the
 * band list is built only when lo <= hi).
 */
object IntervalJoin {
  /**
   * Inner join of `points` × `intervals` on containment. Column name
   * sets must be disjoint. `vCol`, `loCol`, `hiCol` must be LongType —
   * banding arithmetic stays in integer space end-to-end (a double
   * round-trip would corrupt band ids past 2^53).
   */
  def apply(
      points: DataFrame,
      intervals: DataFrame,
      vCol: String,
      loCol: String,
      hiCol: String,
      bandWidth: Long): DataFrame = {
    require(bandWidth >= 1, s"bandWidth must be >= 1 (got $bandWidth)")
    val clash = points.columns.toSet.intersect(intervals.columns.toSet)
    require(clash.isEmpty, s"point/interval column names collide: ${clash.mkString(", ")}")
    import org.apache.spark.sql.types.LongType
    require(points.schema(vCol).dataType == LongType, s"$vCol must be BIGINT")
    require(intervals.schema(loCol).dataType == LongType, s"$loCol must be BIGINT")
    require(intervals.schema(hiCol).dataType == LongType, s"$hiCol must be BIGINT")

    // floor division, exact on the FULL long range (never through a
    // double) and correct for negatives: `div` truncates toward zero,
    // so shift down by one when the remainder is negative
    def floorDiv(name: String): org.apache.spark.sql.Column = {
      val q = expr(s"`$name` div ${bandWidth}L")
      when(col(name) % bandWidth < 0, q - 1L).otherwise(q)
    }

    val p = points
      .where(col(vCol).isNotNull)
      .withColumn("__band", floorDiv(vCol))
    val iv = intervals
      .where(col(loCol).isNotNull && col(hiCol).isNotNull && col(loCol) <= col(hiCol))
      .withColumn("__band",
        explode(sequence(floorDiv(loCol), floorDiv(hiCol))))
    p.join(iv, "__band")
      .where(col(vCol) >= col(loCol) && col(vCol) <= col(hiCol))
      .drop("__band")
  }
}
