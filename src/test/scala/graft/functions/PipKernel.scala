package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import graft.geo.Geometry

/** Drives [[PipRt.pointInRing]] the way generated code does: ring and
 * index as UnsafeArrayData, the index NULL or built by
 * [[Geometry.yBandIndex]]. */
object PipKernel {

  /** Bands of the index [[PipRt.edgeIndex]] derives for `ring` (0 = NULL). */
  def derivedBands(ring: Array[Double]): Int = {
    val bands = ring.length / 2 / PipRt.EdgesPerBand
    if (bands >= 2) bands else 0
  }

  /** Band counts to check a ring under: NULL, the derived count, and
   * `forced` (each distinct). */
  def bandChoices(ring: Array[Double], forced: Seq[Int]): Seq[Int] =
    (Seq(0, derivedBands(ring)) ++ forced).distinct

  /** The kernel's decision with no index (bands = 0) or a `bands`-band one. */
  def decide(x: Double, y: Double, ring: Array[Double], bands: Int): Boolean =
    PipRt.pointInRing(x, y, UnsafeArrayData.fromPrimitiveArray(ring),
      if (bands == 0) null
      else UnsafeArrayData.fromPrimitiveArray(Geometry.yBandIndex(ring, bands)))
}
