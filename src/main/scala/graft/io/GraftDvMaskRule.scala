package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Serves DELETION-VECTOR-bearing snapshots through the plain catalog
  * relation (round-16 VERDICT #4): `SELECT * FROM t` over a table that
  * has taken a merge-on-read delete used to refuse at
  * `createRelation`, because a v1 provider must return ONE relation
  * and the dv mask is a multi-relation plan. Now the provider returns
  * the relation MASK-PENDING ([[ManifestFileIndex.maskPending]]) and
  * this rule substitutes the same composed plan `readSnapshot` builds
  * ([[TableFormat.entriesFrame]]) — clean dirs scan plain, dv dirs
  * scan under the broadcast anti-join mask — re-aliased onto the
  * original relation's exprIds so every parent reference survives.
  * Manifest pruning is intact: the substitute's legs scan through
  * fresh (unpoisoned) manifest indexes over the SAME pinned entry set,
  * so a ranged WHERE still prunes dirs and pushes into parquet on both
  * legs.
  *
  * Row-level command TARGETS are deliberately skipped: an
  * INSERT/DELETE/UPDATE/MERGE target is a WRITE coordinate —
  * [[GraftDmlRule]] reads only the index's root/writeOpts from it,
  * never lists files — and substituting a read plan there would break
  * target discovery. Soundness net: a mask-pending relation that
  * escapes this rule (extensions not registered) fails LOUDLY at
  * file-listing time rather than silently resurrecting deleted rows.
  */
final class GraftDvMaskRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def pending(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case m: ManifestFileIndex => m.maskPending
        case _ => false
      }
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(pending)) plan else walk(plan)

  private def walk(p: LogicalPlan): LogicalPlan = p match {
    // write/row-level targets keep the raw relation (root discovery);
    // only the value-producing sides are walked — which for DML
    // includes the CONDITION's subqueries (read legs, r17 VERDICT #8:
    // `DELETE FROM t WHERE k IN (SELECT k FROM dv_table)` must read
    // the dv table masked, not fail at listing time)
    case i: InsertIntoStatement => i.copy(query = walk(i.query))
    case d: DeleteFromTable => d.copy(condition = walkExpr(d.condition))
    case u: UpdateTable => u.copy(
      condition = u.condition.map(walkExpr),
      assignments = u.assignments.map(a =>
        a.copy(value = walkExpr(a.value))))
    case mt: MergeIntoTable =>
      mt.copy(sourceTable = walk(mt.sourceTable))
    case l: LogicalRelation if pending(l) => substitute(l)
    case other =>
      other.mapChildren(walk).transformExpressions {
        case se: SubqueryExpression if se.plan.exists(pending) =>
          se.withNewPlan(walk(se.plan))
      }
  }

  private def walkExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    e.transform {
      case se: SubqueryExpression if se.plan.exists(pending) =>
        se.withNewPlan(walk(se.plan))
    }

  private def substitute(l: LogicalRelation): LogicalPlan = {
    val fs = l.relation.asInstanceOf[HadoopFsRelation]
    val idx = fs.location.asInstanceOf[ManifestFileIndex]
    val masked0 = TableFormat.entriesFrame(spark, idx.root, idx.entries,
      fs.dataSchema).queryExecution.analyzed
    // carry the catalog identity onto every leg: Catalog.refreshTable
    // walks the resolved plan and calls catalogTable.get on each
    // LogicalRelation it finds — a bare leg would NPE the refresh every
    // DML command issues after its commit
    val masked = l.catalogTable match {
      case Some(ct) => masked0.transform {
        case lr: LogicalRelation if lr.catalogTable.isEmpty =>
          lr.copy(catalogTable = Some(ct))
      }
      case None => masked0
    }
    val byName = masked.output.map(a => a.name.toLowerCase -> a).toMap
    val proj: Seq[NamedExpression] = l.output.map { o =>
      val src = byName.getOrElse(o.name.toLowerCase,
        throw new IllegalStateException(
          s"masked plan for ${idx.root} lost column '${o.name}'"))
      Alias(src, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }
    Project(proj, masked)
  }
}
