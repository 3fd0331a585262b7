package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2
  * to a DataFrame plan over the parquet tables in the given sf dir;
  * `oracleSql` holds the DuckDB-equivalent SQL with IDENTICAL output
  * column names (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    BatchQueries.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    BatchQueries.queries ++ JoinQueries.queries ++ AggQueries.queries ++
      WindowQueries.queries ++ CalcSetQueries.queries ++ TvfQueries.queries ++
      MiscQueries.queries ++ TpchQueries.queries ++ TpcdsQueries.queries ++
      TpcdsSqlText.queries ++ TpcdsPublished.queries ++
      StreamOracleQueries.queries ++
      LayoutQueries.queries ++ EventAnalytics.queries ++ Profiler.queries ++
      graft.functions.FunctionQueries.queries ++ graft.text.TextQueries.queries ++
      graft.text.SelectionQueries.queries ++ graft.text.FrequencyOps.queries ++
      graft.sim.SimilarityQueries.queries ++ graft.sim.PqAnn.queries ++
      graft.changelog.ChangelogQueries.queries ++
      graft.cep.CepOps.queries ++ graft.sql.SqlQueries.queries ++
      graft.sources.CdcQueries.queries ++ graft.sources.JdbcQueries.queries ++
      graft.text.SubstringDedup.queries ++ graft.text.ChunkOps.queries ++
      graft.text.RetrievalQueries.queries ++ graft.text.CollocationQueries.queries ++
      graft.graph.GraphQueries.queries

  def oracleSql: Map[String, String] =
    BatchQueries.oracle ++ JoinQueries.oracle ++ AggQueries.oracle ++
      WindowQueries.oracle ++ CalcSetQueries.oracle ++ TvfQueries.oracle ++
      MiscQueries.oracle ++ TpchQueries.oracle ++ TpcdsQueries.oracle ++
      TpcdsGen.oracle ++ TpcdsGen2.oracle ++ TpcdsGen3.oracle ++
      TpcdsSqlText.oracle ++ TpcdsPublished.oracle ++
      StreamOracleQueries.oracle ++
      LayoutQueries.oracle ++ EventAnalytics.oracle ++ Profiler.oracle ++
      graft.functions.FunctionQueries.oracle ++ graft.text.TextQueries.oracle ++
      graft.text.SelectionQueries.oracle ++ graft.text.FrequencyOps.oracle ++
      graft.sim.SimilarityQueries.oracle ++ graft.sim.PqAnn.oracle ++
      graft.changelog.ChangelogQueries.oracle ++
      graft.cep.CepOps.oracle ++ graft.sql.SqlQueries.oracle ++
      graft.sources.CdcQueries.oracle ++ graft.sources.JdbcQueries.oracle ++
      graft.text.SubstringDedup.oracle ++ graft.text.ChunkOps.oracle ++
      graft.text.RetrievalQueries.oracle ++ graft.text.CollocationQueries.oracle ++
      graft.graph.GraphQueries.oracle
}
