package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-property goldens (analog of the reference's 222 checked-in
  * optimizer plan XMLs, scoped to the properties that matter at
  * 100 TB): filters reach the parquet scan, dims broadcast, TopN
  * rank-limits push into the shuffle, aggregates are partial+final.
  * A regression here is a performance bug even when results stay
  * correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan(operators.BatchQueries.q1Agg(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q1_agg scan reads only the 8 referenced columns") {
    val p = plan(operators.BatchQueries.q1Agg(spark, sfDir))
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"column pruning lost: $readSchema")
    assert(readSchema.contains("l_returnflag"), readSchema)
  }

  test("lookup join broadcasts the dimension side") {
    val p = plan(operators.MiscQueries.lookupJoin(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bucketed join plans with zero shuffle exchanges (co-located layout)") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(operators.MiscQueries.bucketedJoin(spark, sfDir))
      assert(p.contains("SortMergeJoin"), p)
      // the bucketed scans ARE the join distribution: no exchange on
      // either join key (the aggregate above still shuffles on ITS key)
      assert(!p.contains("hashpartitioning(l_orderkey") &&
        !p.contains("hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles on the join key:\n$p")
      assert(p.contains("Bucketed: true"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("topn pushes the rank limit into the shuffle (WindowGroupLimit)") {
    val p = plan(operators.WindowQueries.topN(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("sort_limit plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(operators.CalcSetQueries.sortLimit(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("date-range filter on orders is pushed in the tpch q10 join tree") {
    val p = plan(operators.TpchQueries.q10(spark, sfDir))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("window-scoped topn keeps the WindowGroupLimit pushdown") {
    val p = plan(operators.WindowQueries.windowTopN(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("signature-rerank ANN materializes signatures behind one exchange") {
    val p = plan(graft.sim.SimilarityQueries.annSigRerank(spark, sfDir))
    // the prefilter join must consume the exchanged (materialized)
    // signatures, not recompute lsh_signature per joined pair: the
    // expression appears in projections below the exchange only
    val nlIdx = p.indexOf("BroadcastNestedLoopJoin")
    assert(nlIdx > 0, p)
    assert(p.contains("hashpartitioning(vec_id"), p)
  }

  test("MATCH_RECOGNIZE SQL plans one shuffle on the partition key") {
    Tables.registerAll(spark, sfDir)
    val df = graft.sql.GraftSql.sql(spark,
      """SELECT * FROM events MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  MEASURES COUNT(V.*) AS n AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (V P)
        |  DEFINE V AS event_type = 'view', P AS event_type = 'purchase')""".stripMargin)
    val p = plan(df)
    // DEFINE predicates evaluate below the single exchange
    assert("Arguments: hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(p.contains("MapGroups"), p)
  }

  test("multi-band simhash joins on (band, value) — an equi-join, not a cartesian") {
    val p = plan(graft.text.TextQueries.dedupSimhash(spark, sfDir))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("SQL temporal join plans as an equi join with interval residual, not a cartesian") {
    val p = plan(graft.sql.SqlQueries.temporalJoinSql(spark, sfDir))
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval containment must ride the user_id equi-join as a residual: $p")
  }

  test("media ANN joins on (table, bucket) — a hash join, never the r3 all-pairs loop") {
    val p = plan(graft.operators.MiscQueries.multimodalAnn(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"media ANN must prefilter through LSH buckets, not scan all pairs: $p")
  }

  test("generated TPC-DS q3 plans the canonical star: one fact range, " +
      "broadcast dims only, the aggregate's exchange is the only shuffle") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q3")(spark, sfDir))
    // both dims broadcast — a SortMergeJoin against a 1000-row dim
    // would mean the stats/threshold wiring broke
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the fact scans exactly once (q64's r12 lesson: a second fact
    // pass is the expensive regression to guard) — since r15 the star
    // is materialized parquet, so the source is a file scan
    val factScans = p.linesIterator.count(l =>
      l.contains("Location:") && l.contains("store_sales"))
    assert(factScans === 1, s"expected exactly one fact scan, got $factScans:\n$p")
  }

  test("generated TPC-DS q98's share window runs over the item-sized " +
      "aggregate, never fact rows") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q98")(spark, sfDir))
    // tree section only (up to the first blank line): the Window's
    // subtree must reach a HashAggregate before any scan — i.e. the
    // window consumes the aggregated item frame, not fact rows
    val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
    val windowIdx = tree.indexWhere(_.contains("Window"))
    val firstAgg = tree.indexWhere(_.contains("HashAggregate"))
    val firstScan = tree.indexWhere(l => l.contains("Range") || l.contains("Scan"))
    assert(windowIdx >= 0 && firstAgg > windowIdx && firstScan > firstAgg,
      s"share window must consume the aggregated frame:\n$p")
  }

  test("avro scan prunes to the referenced columns") {
    val df = graft.operators.MiscQueries.avroRoundtrip(spark, sfDir)
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    // events has 6 physical columns; the aggregate touches 4
    assert(scan.output.map(_.name).toSet ===
      Set("event_id", "ts", "event_type", "value"), scan.output.toString)
  }
}
