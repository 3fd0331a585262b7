package graft.plans

import scala.util.Try

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_RELATION
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.graft.SqlOnFileBridge

import graft.ParquetFooters

/** Resolves `` parquet.`path` `` from the data file's footer, so planning
  * a statement over files reads no data — the way the reference's SQL
  * Gateway plans against a catalog that already holds each table's
  * schema.
  *
  * Spark's `ResolveSQLOnFile` infers the schema with a one-task Spark job
  * on every analysis, and a catalog view over a file path is re-analysed
  * by every statement that names it. This rule builds the very relation
  * that rule would — `LogicalRelation` over `DataSource(className =
  * "parquet", paths = Seq(path))`, same options, same file index — with
  * one difference: `userSpecifiedSchema` is the schema
  * [[ParquetFooters.inferredSchema]] reads from the footer that inference
  * would read, converted under the session's SQLConf as inference does
  * (`ResolveSQLOnFile` and the parquet converter consult the session's
  * conf, not a view's captured one).
  *
  * Wherever the footer cannot reproduce inference exactly the node is
  * left alone, and `ResolveSQLOnFile` resolves it as it always has,
  * errors included:
  *  - a format other than parquet, or SQL on files switched off;
  *  - any read option (`mergeSchema`, path filters, the write-privilege
  *    marker of DML targets), or `spark.sql.parquet.mergeSchema` on;
  *  - a glob path, or a missing one;
  *  - a subdirectory (partition discovery), a summary file
  *    (`_metadata`, `_common_metadata`), or no data file;
  *  - a streaming or time-travel relation;
  *  - `parquet` naming a catalog or database, which `ResolveRelations`
  *    searches first.
  *
  * Placement: it is a hint-resolution rule. An injected resolution rule
  * lands after `ResolveSQLOnFile` in the Resolution batch and would never
  * see the node; the Hints batch runs before Resolution, and it runs
  * again inside each view body, which the analyzer resolves with the
  * full batch list.
  */
case class ResolveParquetFooters(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _ if !plan.containsPattern(UNRESOLVED_RELATION) => plan
    case _: RelationTimeTravel => plan
    case u: UnresolvedRelation => footerRelation(u).getOrElse(u)
    case _ => plan.mapChildren(apply)
  }

  private def footerRelation(u: UnresolvedRelation): Option[LogicalPlan] =
    u.multipartIdentifier match {
      case Seq(format, path) if format.equalsIgnoreCase("parquet") && !u.isStreaming &&
          u.options.isEmpty && session.sessionState.conf.runSQLonFile &&
          !session.sessionState.conf.isParquetSchemaMergingEnabled &&
          !SqlOnFileBridge.globPath(path) &&
          !SqlOnFileBridge.namesCatalogObject(session, format) =>
        Try(ParquetFooters.inferredSchema(session, path).map { schema =>
          LogicalRelation(DataSource(session, className = format, paths = Seq(path),
            userSpecifiedSchema = Some(schema)).resolveRelation())
        }).toOption.flatten
      case _ => None
    }
}

object ResolveParquetFooters {

  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())

  /** Inject the rule into `ext`, once however often it is asked. */
  def register(ext: SparkSessionExtensions): Unit = registered.synchronized {
    if (registered.add(ext)) ext.injectHintResolutionRule(ResolveParquetFooters(_))
  }

  /** Register on the extensions `root` shares with every `root.newSession()`.
    * Each session builds its analyzer from them on its first statement, so
    * a session whose analyzer exists already — `root`, once it has run a
    * statement — keeps resolving file paths by inference. */
  def register(root: SparkSession): Unit = register(SqlOnFileBridge.extensions(root))
}
