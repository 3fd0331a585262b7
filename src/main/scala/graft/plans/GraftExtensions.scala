package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.functions.HammingDistance64

/** Catalyst extension point for graft's custom expressions — the
  * Spark analog of the reference's planner rule sets
  * (FlinkStreamRuleSets.scala): domain-specific rewrites run inside
  * the optimizer, so they compose with pushdown/pruning instead of
  * happening at API level.
  *
  * Round-1 rule: self-comparison simplification for signature
  * expressions — `hamming64(x, x)` is 0 for any non-null x, so the
  * (potentially expensive, join-fed) expression folds to a null-safe
  * constant. (The cosine analog is deliberately NOT rewritten:
  * cosine(x, x) is 0, not 1, for zero vectors, so the identity does
  * not hold universally.)
  *
  * Install at build time via
  * `SparkSession.builder.withExtensions(new GraftExtensions)`, which also
  * registers [[ResolveParquetFooters]], or on a live session via
  * [[GraftExtensions.install]] (experimental.extraOptimizations — the
  * sanctioned runtime hook, optimizer rules only).
  */
object SimplifySelfHamming extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case HammingDistance64(a, b) if a == b && a.deterministic =>
        If(IsNull(a), Literal(null, IntegerType), Literal(0, IntegerType))
    }
}

/** Feed ANALYZE TABLE statistics to join planning — the reference's
  * statistics-injected optimization (its TPC-DS e2e gate runs with
  * table statistics loaded so the planner picks broadcast sides;
  * flink-end-to-end-tests/flink-tpcds-test/.../TpcdsTestProgram.java
  * documents the config). Spark sizes file relations from footers,
  * but relations it CANNOT size — a federated JDBC catalog table, an
  * RDD-backed view — default to `spark.sql.defaultSizeInBytes`
  * (huge), so a dimension behind a JDBC catalog never broadcasts and
  * every federation join pays a full shuffle. After `ANALYZE TABLE t
  * COMPUTE STATISTICS` records a row count, this rule sizes the side
  * as rowCount × output row width and, when that fits under
  * `spark.sql.autoBroadcastJoinThreshold`, sets the join's BROADCAST
  * hint (the smaller side when both fit). JoinSelection still owns
  * legality — an un-broadcastable side (e.g. the preserved side of an
  * outer join) ignores the hint.
  *
  * At 100 TB this is the difference between a federation dim lookup
  * being a map-side join and being a full shuffle of the fact table:
  * exactly why the reference injects statistics before running
  * TPC-DS.
  */
object StatsBroadcastJoin extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, HintInfo, LeafNode, Project, SubqueryAlias, BROADCAST}
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

  /** The leaf relation of a (possibly projected/filtered) join side.
    * By the time user optimizer rules run, EliminateSubqueryAliases
    * has stripped view names — the lookup must match the RELATION,
    * not an alias.
    */
  private def sideLeaf(p: LogicalPlan): Option[LogicalPlan] = p match {
    case l: LeafNode => Some(l)
    case SubqueryAlias(_, child) => sideLeaf(child)
    case Project(_, child) => sideLeaf(child)
    case Filter(_, child)  => sideLeaf(child)
    case _ => None
  }

  /** Catalog-qualified name of a DSv2 relation (a federated JDBC
    * table keeps its identifier through pushdown), e.g.
    * `fed_cat.APP.SUPP` — the same string ANALYZE TABLE records.
    */
  private def v2Name(r: DataSourceV2Relation): Option[String] =
    r.identifier.map { id =>
      (r.catalog.map(_.name()).toSeq ++ id.namespace() :+ id.name()).mkString(".")
    }

  private def statsFor(leaf: LogicalPlan) = leaf match {
    case s: DataSourceV2ScanRelation =>
      // ANALYZE saw the pre-pushdown DataSourceV2Relation — match by
      // its identifier (or by that relation, never the scan node)
      v2Name(s.relation).flatMap(graft.catalog.GraftCatalog.statsOf)
        .orElse(graft.catalog.GraftCatalog.statsOfLeaf(s.relation))
    case r: DataSourceV2Relation =>
      v2Name(r).flatMap(graft.catalog.GraftCatalog.statsOf)
        .orElse(graft.catalog.GraftCatalog.statsOfLeaf(leaf))
    case other => graft.catalog.GraftCatalog.statsOfLeaf(other)
  }

  private def statsSize(p: LogicalPlan): Option[Long] =
    sideLeaf(p).flatMap(statsFor).map { st =>
      val width = p.output.map(_.dataType.defaultSize).sum + 8
      // saturate instead of overflowing: an ANALYZE'd (or manually
      // recorded) row count near Long.MaxValue would wrap negative,
      // pass the <= threshold filter, and force-broadcast a huge
      // relation into the driver
      if (st.rowCount < 0 || st.rowCount > Long.MaxValue / width) Long.MaxValue
      else st.rowCount * width
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val thr = conf.autoBroadcastJoinThreshold
    if (thr <= 0) plan
    else plan.transformUp {
      case j: Join if j.hint == JoinHint.NONE =>
        val l = statsSize(j.left).filter(_ <= thr)
        val r = statsSize(j.right).filter(_ <= thr)
        (l, r) match {
          case (Some(a), Some(b)) =>
            if (a <= b) j.copy(hint = JoinHint(Some(HintInfo(Some(BROADCAST))), None))
            else j.copy(hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
          case (Some(_), None) =>
            j.copy(hint = JoinHint(Some(HintInfo(Some(BROADCAST))), None))
          case (None, Some(_)) =>
            j.copy(hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
          case _ => j
        }
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SimplifySelfHamming)
    ext.injectOptimizerRule(_ => StatsBroadcastJoin)
    ResolveParquetFooters.register(ext)
  }
}

object GraftExtensions {
  /** Install the graft optimizer rules into an existing session. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(SimplifySelfHamming))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SimplifySelfHamming
    if (!spark.experimental.extraOptimizations.contains(StatsBroadcastJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ StatsBroadcastJoin
  }
}
