package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.ResolveParquetFooters

/** `` parquet.`path` `` resolved from the footer must be the relation
  * Spark's own inference builds — same schema, nullability included, same
  * rows — and every case the footer cannot reproduce must come out of
  * Spark's `ResolveSQLOnFile` unchanged, rows or error alike.
  *
  * `plain` is the shared test session, whose analyzer predates any
  * registration, so plain Spark; `withRule()` is a new session on its
  * extensions with the rule registered and its runtime conf copied, so the
  * two differ only by the rule.
  */
class ResolveParquetFootersSpec extends SparkSpec {

  private def plain: SparkSession = spark

  private def withRule(): SparkSession = {
    ResolveParquetFooters.register(spark)
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) => if (spark.conf.isModifiable(k)) s.conf.set(k, v) }
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Row count, xor and sum of every row's xxhash64. */
  private def rowHash(s: SparkSession, from: String): Row =
    s.sql(s"SELECT count(*), bit_xor(h), sum(CAST(h AS DECIMAL(38, 0))) " +
      s"FROM (SELECT xxhash64(*) AS h FROM $from)").head()

  /** The schema and sorted rows of a scan, or the error class it fails with. */
  private def outcome(df: => DataFrame): Either[String, (String, Seq[String])] =
    Try { val d = df; (d.schema.toDDL, d.collect().map(_.toString).toSeq.sorted) }
      .toEither.left.map {
        case e: AnalysisException => e.getCondition
        case e => e.getClass.getName
      }

  /** Both sessions give the same outcome for `relation`; returns whether
    * analysis succeeded and the jobs each session's analysis ran. */
  private def compare(relation: SparkSession => DataFrame): (Boolean, Int, Int) = {
    val (p, pJobs) = JobCount.of(spark)(Try(relation(plain)))
    val (r, rJobs) = JobCount.of(spark)(Try(relation(withRule())))
    assert(outcome(r.get) === outcome(p.get))
    (p.isSuccess, pJobs, rJobs)
  }

  /** `compare`, where the rule must leave the node to Spark: analysis
    * succeeds or fails as stated, and where it succeeds it ran Spark's
    * inference job in both sessions. */
  private def fallsBack(succeeds: Boolean)(relation: SparkSession => DataFrame): Unit = {
    val (ok, pJobs, rJobs) = compare(relation)
    assert(ok === succeeds)
    if (ok) assert(rJobs === pJobs && rJobs > 0)
  }

  private def sqlOn(path: String): SparkSession => DataFrame =
    _.sql(s"SELECT * FROM parquet.`$path`")

  test("the ten input tables: identical schema and row hash with the rule as " +
      "without, and no inference job with it") {
    val rule = withRule()
    Tables.names.foreach { t =>
      val from = s"parquet.`$sfDir/$t.parquet`"
      val (p, pJobs) = JobCount.of(spark)(plain.sql(s"SELECT * FROM $from"))
      val (r, rJobs) = JobCount.of(spark)(rule.sql(s"SELECT * FROM $from"))
      assert(pJobs > 0, s"$t: the plain session inferred without a job")
      assert(rJobs === 0, s"$t: the rule's session ran $rJobs jobs")
      assert(r.schema === p.schema, t)
      assert(rowHash(rule, from) === rowHash(plain, from), t)
    }
  }

  test("mergeSchema, by conf or by option, falls back to Spark") {
    val dir = tmp("graft-merge")
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(dir)
    spark.range(3, 6).selectExpr("id AS a", "id * 2 AS b").write.mode("append").parquet(dir)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      fallsBack(succeeds = true)(sqlOn(dir))
      assert(withRule().sql(s"SELECT * FROM parquet.`$dir`").columns.toSeq === Seq("a", "b"))
    } finally spark.conf.unset(key)
    val merged = new CaseInsensitiveStringMap(Map("mergeSchema" -> "true").asJava)
    fallsBack(succeeds = true)(s => DatasetBridge.ofRows(s, UnresolvedRelation(Seq("parquet", dir), merged)))
  }

  test("a partitioned directory, a summary file and a glob path fall back to Spark") {
    val parts = tmp("graft-parts")
    spark.range(4).selectExpr("id AS a", "id % 2 AS k").write.mode("overwrite").partitionBy("k").parquet(parts)
    fallsBack(succeeds = true)(sqlOn(parts))

    // inference reads _common_metadata ahead of the data files
    val summarized = tmp("graft-summary")
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(summarized)
    ParquetFootersSpec.writeFile(s"$summarized/_common_metadata",
      "message m { optional int64 a; optional int64 extra; }")
    fallsBack(succeeds = true)(sqlOn(summarized))
    assert(plain.sql(s"SELECT * FROM parquet.`$summarized`").columns.toSeq === Seq("a", "extra"))

    fallsBack(succeeds = true)(sqlOn(s"$sfDir/{region,nation}.parquet"))
  }

  test("a missing path and time travel fail with Spark's own errors") {
    fallsBack(succeeds = false)(sqlOn(s"${tmp("graft-missing")}/nothing-here"))
    fallsBack(succeeds = false)(_.sql(s"SELECT * FROM parquet.`$sfDir/region.parquet` VERSION AS OF 1"))
  }

  test("a `parquet` database is searched first, as by Spark's ResolveRelations") {
    // a relative path (resolved against the working directory) that is
    // also a valid table name
    val name = s"graft_shadow_${System.nanoTime()}"
    spark.range(2).selectExpr("id AS a").write.parquet(name)
    spark.sql("CREATE DATABASE IF NOT EXISTS parquet")
    try {
      spark.sql(s"CREATE OR REPLACE VIEW parquet.$name AS SELECT 'shadow' AS x")
      val (ok, _, _) = compare(sqlOn(name))
      assert(ok && withRule().sql(s"SELECT * FROM parquet.`$name`").columns.toSeq === Seq("x"))
    } finally {
      spark.sql("DROP DATABASE IF EXISTS parquet CASCADE")
      val p = new org.apache.hadoop.fs.Path(name)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("inside a view the session's conf, not the view's captured conf, types the " +
      "footer, as in Spark's inference") {
    val events = s"${ParquetFootersSpec.nanosEvents(spark)}/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      spark.sql(s"CREATE OR REPLACE VIEW nanos_view AS SELECT * FROM parquet.`$events`")
      val (typed, _, jobs) = compare(_.sql("SELECT * FROM nanos_view"))
      assert(typed && jobs === 0, "the footer types ts under the session's nanosAsLong")
      // the view captured nanosAsLong=true, yet inference rejects the
      // nanos column under the session's false, and so must the rule
      spark.conf.set(key, "false")
      val (rejected, _, _) = compare(_.sql("SELECT * FROM nanos_view"))
      assert(!rejected)
    } finally {
      spark.sql("DROP VIEW IF EXISTS nanos_view")
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
