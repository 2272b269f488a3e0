package graft.sources.gds

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, ExprId}
import org.apache.spark.sql.catalyst.optimizer.ColumnPruning
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.functions.expressions.{GenoStats, GenoStatsRaw}

/** Rewrites `geno_stats(geno, k)` into [[GenoStatsRaw]] over the gds
  * source's hidden planes column when `geno` is a gds relation's own
  * column, so `alleleFreq`, `missing`, `setFilterCond` and SQL callers
  * count genotypes on the stored 2-bit planes with no call-site change.
  * Column pruning then drops `geno` from the scan when nothing else reads
  * it.
  *
  * Runs in the pre-CBO batch, before the scan's projection push-down.
  * It fires only where the relation declares the planes column (see
  * [[GdsSchema.rawPlanes]]: not on SNP-GDS trees, nor with
  * `genotype/extra` entries) and where `geno` reaches the kernel
  * unchanged through Project, Filter and Generate nodes; a derived `geno`
  * (for example `setFilterSamples`' slice) keeps GenoStats. */
object GenoStatsFromPlanes extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.isInstanceOf[DataSourceV2Relation])) plan
    else {
      val out = plan.transformUp {
        case node if node.children.size == 1 => rewrite(node)
      }
      // a column pruned earlier (a Generate's child columns) may still
      // list `geno`; prune again so the scan reads only the planes
      if (out.fastEquals(plan)) plan else ColumnPruning(out)
    }

  private def rewrite(node: LogicalPlan): LogicalPlan = {
    val (child, planesOf) = genoIds(node).foldLeft(
        (node.children.head, Map.empty[ExprId, Attribute])) {
      case ((c, acc), id) => withPlanes(c, id) match {
        case Some((c2, p)) => (c2, acc + (id -> p))
        case None => (c, acc)
      }
    }
    if (planesOf.isEmpty) node
    else {
      val out = reparent(node, child).transformExpressions {
        case GenoStats(a: AttributeReference, k)
            if planesOf.contains(a.exprId) =>
          GenoStatsRaw(planesOf(a.exprId), k)
      }
      if (out.output == node.output) out else Project(node.output, out)
    }
  }

  private def genoIds(node: LogicalPlan): Set[ExprId] =
    node.expressions.flatMap(_.collect {
      case GenoStats(a: AttributeReference, _) => a.exprId
    }).toSet

  /** `plan` with the planes column of the gds relation whose `geno` is
    * `id` added to its output, threaded up through the nodes that pass
    * `geno` on unchanged; None when the path holds any other node or
    * the relation declares no planes column. */
  private def withPlanes(plan: LogicalPlan, id: ExprId)
      : Option[(LogicalPlan, Attribute)] = plan match {
    case r: DataSourceV2Relation
        if r.output.exists(a => a.exprId == id && a.name == "geno") =>
      r.output.find(_.name == GdsSchema.PlanesCol).map(r -> _).orElse(
        r.metadataOutput.find(_.name == GdsSchema.PlanesCol)
          .map(p => (r.copy(output = r.output :+ p), p)))
    case Project(list, child) if list.exists {
          case a: Attribute => a.exprId == id
          case _ => false
        } =>
      withPlanes(child, id).map { case (c, p) =>
        (Project(if (list.exists(_.exprId == p.exprId)) list else list :+ p,
          c), p)
      }
    case _: Filter | _: Generate =>
      withPlanes(plan.children.head, id).map { case (c, p) =>
        (reparent(plan, c), p)
      }
    case _ => None
  }

  /** `node` over `child`, a copy of its child with columns added; a
    * Generate's pruned child columns are re-indexed by attribute. */
  private def reparent(node: LogicalPlan, child: LogicalPlan): LogicalPlan =
    node match {
      case g: Generate =>
        val pruned = g.unrequiredChildIndex.map(g.child.output(_).exprId)
        g.copy(child = child, unrequiredChildIndex =
          pruned.map(e => child.output.indexWhere(_.exprId == e)))
      case _ => node.withNewChildren(Seq(child))
    }
}
