package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DateType, StringType, TimestampType}

/** SQL time travel over format-backed catalog tables:
  * {{{
  *   SELECT … FROM t VERSION AS OF 3
  *   SELECT … FROM t TIMESTAMP AS OF '2026-08-14 12:00:00'
  * }}}
  * Spark's analyzer supports the syntax only for v2 catalogs — a v1
  * session-catalog table fails resolution — so this rule intercepts
  * [[RelationTimeTravel]] while the relation is still unresolved,
  * recognizes the provider from the catalog metadata, and substitutes
  * the requested snapshot's plan ([[TableFormat.readSnapshot]] —
  * manifest-pruned, dv-masked, the full-fidelity doorway).
  * `VERSION AS OF` is the manifest version; `TIMESTAMP AS OF` resolves
  * to the LAST version whose manifest was published at or before the
  * instant ([[TableFormat.versionAt]] — commit publish time is the
  * manifest's own `#ts` header, mtime only as a legacy fallback, so a
  * backup-restore that rewrites mtimes cannot shift history;
  * driver-side metadata only). Non-graft tables pass through untouched
  * for Spark's own handling.
  */
final class GraftTimeTravelRule(spark: SparkSession)
    extends Rule[LogicalPlan] {

  private def graftRoot(ident: Seq[String]): Option[String] = {
    val ti = ident match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) => TableIdentifier(t, Some(db), Some(cat))
      case _ => return None
    }
    val cat = spark.sessionState.catalog
    // a same-named temp view shadows the table — leave it to Spark
    if (cat.isTempView(ident) || !cat.tableExists(ti)) return None
    val meta = cat.getTableMetadata(ti)
    if (!meta.provider.exists(p =>
        p == classOf[TableFormatSourceProvider].getName ||
          p == "graft-table")) return None
    meta.storage.properties.get("path")
      .orElse(meta.storage.locationUri.map(_.toString))
      .map(TableFormat.posixRoot)
  }

  /** Epoch millis of a foldable TIMESTAMP/DATE/STRING expression. */
  private def instantMillis(e: Expression): Long = {
    require(e.foldable, s"TIMESTAMP AS OF must be a constant: ${e.sql}")
    e.eval() match {
      case micros: java.lang.Long if e.dataType == TimestampType =>
        micros / 1000L
      case days: java.lang.Integer if e.dataType == DateType =>
        days.toLong * 86400000L
      case s if e.dataType == StringType =>
        java.sql.Timestamp.valueOf(s.toString).getTime
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF over a graft table needs a timestamp/date/" +
          s"string constant, got $other (${e.dataType})")
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) =>
        graftRoot(u.multipartIdentifier) match {
          case Some(root) =>
            val v = version.map(_.toInt).getOrElse(
              TableFormat.versionAt(root, instantMillis(ts.getOrElse(
                throw new IllegalArgumentException(
                  "time travel needs VERSION AS OF or TIMESTAMP AS OF")))))
            TableFormat.readSnapshot(spark, root, v)
              .queryExecution.analyzed
          case None => tt
        }
    }
}
