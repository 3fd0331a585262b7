package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table access for the driver-generated TPC-H-ish star schema
  * (see /root/repo/TESTDATA.md). All queries take the scale-factor
  * directory as a parameter so the same code runs at sf0.001/0.01/0.1
  * — and, unchanged, against a 100 TB warehouse directory.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects outright; read it as raw long nanos and truncate
    // to micros — the same truncation DuckDB applies, so oracle
    // comparisons agree.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the schema comes from the file's footer, so loading a table runs
    // no Spark job
    val df = ParquetFooters.read(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        d.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // Driver-generated parquet has also shipped ts as TIMESTAMP_NTZ
      // (isAdjustedToUTC=false micros). Every session here pins
      // spark.sql.session.timeZone=UTC, so casting NTZ → TIMESTAMP is
      // value-preserving and lands on the instant DuckDB's naive
      // timestamp reads — downstream code (unix_micros, avro encode,
      // CSV timestampFormat) only handles TimestampType.
      case (d, f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        d.withColumn(f.name,
          d.col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      case (d, _) => d
    }
  }

  /** Register every table as a temp view named after itself, so
    * `spark.sql` text and the DuckDB oracle read identical relations.
    *
    * Idempotent per (session, dir): SQL-path queries call this
    * defensively on every invocation, and re-planning ten table reads
    * inside a timed region billed ~0.5 s of fake cost to every such
    * query in round 2's bench. A conf marker skips the re-registration
    * until the dir changes.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (spark.conf.getOption("graft.tables.registered").contains(dir)) return
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    spark.conf.set("graft.tables.registered", dir)
  }
}
