package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

import graft.functions.{CellCoverExpr, CellIdExpr, PipRt, PointInPolygonExpr}
import graft.geo.CellIndex

/**
 * Optimizer rule (the SURVEY §7.3 "sugar Rule" stretch goal): rewrites a
 * naive point-in-polygon theta-join
 *
 *   points JOIN polygons ON point_in_polygon(x, y, ring)
 *
 * — which Spark can only execute as a cartesian/broadcast-nested-loop
 * join (O(points × polygons) PIP evaluations) — into the two-phase form:
 *
 *   (points + cell_id(y, x, res))
 *     JOIN (polygons + the ring's edge index ⋈ generate cell_cover(ring, res))
 *     ON cell = cover_cell AND point_in_polygon(x, y, ring, edge index)
 *
 * i.e. an equi-join on the 8-byte cell key with the exact PIP as a
 * residual — the same plan `operators.SpatialJoin` builds explicitly
 * (row-set equality is guaranteed by the cover-superset property plus
 * the fact that a point lies in exactly one cell, see SpatialJoin docs).
 *
 * The blocking resolution comes from the session conf
 * `spark.graft.spatialJoin.res` (default 7). Fires only when the PIP,
 * without an index argument, is the WHOLE join condition (it leaves
 * composite conditions alone) and its point/ring sides resolve to
 * opposite join children.
 *
 * Registered via [[GraftExtensions]]
 * (`SparkSession.builder.withExtensions(new GraftExtensions)`) or
 * `SpatialJoinRule.install(spark)` on a live session.
 */
object SpatialJoinRule extends Rule[LogicalPlan] {

  val ResConfKey = "spark.graft.spatialJoin.res"

  /** The conf's resolution; a value that is not an integer in
   * [0, CellIndex.MaxRes] fails the query, naming the key. */
  private def res: Int = {
    val v = conf.getConfString(ResConfKey, "7")
    v.trim.toIntOption.filter(CellIndex.validRes).getOrElse(
      throw new IllegalArgumentException(
        s"$ResConfKey must be an integer in [0, ${CellIndex.MaxRes}], got '$v'"))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, joinType @ (Inner | Cross),
        Some(pip @ PointInPolygonExpr(x, y, ring, Literal(null, _))), hint)
        if pip.references.nonEmpty && x.deterministic && y.deterministic &&
          ring.deterministic && sidesResolve(x, y, ring, left, right) =>
      val r = res
      // left + cell id of the point at the blocking resolution
      val cellAlias = Alias(CellIdExpr(y, x, Literal(r)), "__graft_cell")()
      val newLeft = Project(left.output :+ cellAlias, left)
      // right + the ring's edge index ⋈ generate cover cells
      val idxAlias = Alias(PipRt.edgeIndex(ring), "__graft_pidx")()
      val rightBase = Project(right.output :+ idxAlias, right)
      val coverAttr = AttributeReference("__graft_cover", LongType, nullable = false)()
      val newRight = Generate(
        CellCoverExpr(ring, Literal(r)),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(coverAttr),
        child = rightBase)
      val residual = pip.copy(idx = idxAlias.toAttribute)
      val cond = And(EqualTo(cellAlias.toAttribute, coverAttr), residual)
      Project(j.output, Join(newLeft, newRight, Inner, Some(cond), hint))
  }

  /** point columns from one side, ring from the other (either orientation
   * of the original join is accepted; we only rewrite the canonical
   * points-left orientation to keep the rule small). */
  private def sidesResolve(x: Expression, y: Expression, ring: Expression,
      left: LogicalPlan, right: LogicalPlan): Boolean =
    x.references.subsetOf(left.outputSet) &&
      y.references.subsetOf(left.outputSet) &&
      ring.references.subsetOf(right.outputSet) &&
      ring.references.nonEmpty && x.references.nonEmpty

  /** Inject into a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(SpatialJoinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SpatialJoinRule
  }
}

/** SparkSessionExtensions entry point:
 * `SparkSession.builder().withExtensions(new GraftExtensions)` — injects
 * the spatial-join rewrite and registers the engine's SQL functions
 * (same inventory as `graft.functions.registerAll`, but at builder time,
 * so a pure-SQL spark-submit job needs no Scala setup call). Also usable
 * zero-code via `--conf spark.sql.extensions=graft.plans.GraftExtensions`
 * — Spark instantiates it reflectively; see README "Deploying". */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SpatialJoinRule)
    graft.functions.sqlFunctionBuilders.foreach { case (name, arity, builder) =>
      // the concrete Expression class, so DESCRIBE FUNCTION reports it
      val cls = builder(Seq.fill(arity)(Literal(null))).getClass.getName
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls, name),
        builder))
    }
  }
}
