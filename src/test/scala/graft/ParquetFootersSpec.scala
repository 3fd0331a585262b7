package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType
import graft.operators.TpcdsStar

/** The footer helper must say exactly what Spark's own inference and
  * `count()` say, since every plan-time reader of the input tables and
  * of the TPC-DS star now takes its schema and row count from it.
  */
class ParquetFootersSpec extends SparkSpec {

  private val n = 6000L  // |lineitem| at sf0.001

  private def starPaths: Seq[String] = {
    val facts = TpcdsStar.ensureFacts(spark, n)
    TpcdsStar.DIMS.map(t => s"${TpcdsStar.dimsDir}/$t.parquet") ++
      TpcdsStar.FACTS.map(t => s"$facts/$t.parquet")
  }

  test("footer schemas equal spark.read.parquet's inferred schemas for the ten " +
      "input tables, the 24 star tables and a TIMESTAMP(NANOS) events.ts") {
    // Tables.load reads every input table with nanosAsLong on
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val nanos = ParquetFootersSpec.nanosEvents(spark)
    val paths = Tables.names.map(t => s"$sfDir/$t.parquet") ++ starPaths :+
      s"$nanos/events.parquet"
    assert(paths.size === 35)
    paths.foreach { p =>
      assert(ParquetFooters.schema(spark, p) === spark.read.parquet(p).schema, p)
    }
    assert(ParquetFooters.schema(spark, paths.last)("ts").dataType === LongType)
    // and the loaded table still truncates the nanos to micros
    val ts = Tables.load(spark, nanos, "events").orderBy("event_id")
      .selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(ts === Seq(1700000000123456L, 1700000001987654L))
  }

  test("footer row counts equal count() for lineitem and store_sales") {
    val paths = Seq(s"$sfDir/lineitem.parquet",
      s"${TpcdsStar.ensureFacts(spark, n)}/store_sales.parquet")
    paths.foreach { p =>
      assert(ParquetFooters.rowCount(spark, p) === spark.read.parquet(p).count(), p)
    }
    assert(ParquetFooters.rowCount(spark, paths.head) === n)
  }

  test("a path rewritten with a different column set reads its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewritten").toString
    // a directory Spark rewrites (new part-file names) ...
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.parquet(s"$dir/t")
    assert(ParquetFooters.schema(spark, s"$dir/t") === spark.read.parquet(s"$dir/t").schema)
    spark.range(3).selectExpr("CAST(id AS STRING) AS x", "id AS y", "id AS z")
      .write.mode("overwrite").parquet(s"$dir/t")
    assert(ParquetFooters.schema(spark, s"$dir/t") === spark.read.parquet(s"$dir/t").schema)
    assert(ParquetFooters.schema(spark, s"$dir/t").fieldNames.toSeq === Seq("x", "y", "z"))
    // ... and one data file rewritten in place under the same name
    val file = s"$dir/one.parquet"
    ParquetFootersSpec.writeFile(file, "message m { required int64 a; }")
    assert(ParquetFooters.schema(spark, file) === spark.read.parquet(file).schema)
    ParquetFootersSpec.writeFile(file, "message m { required int64 a; optional binary c (UTF8); }")
    assert(ParquetFooters.schema(spark, file) === spark.read.parquet(file).schema)
    assert(ParquetFooters.schema(spark, file).fieldNames.toSeq === Seq("a", "c"))
  }

  test("each session's nanosAsLong decides the TIMESTAMP(NANOS) type, as in Spark's " +
      "inference") {
    val events = s"${ParquetFootersSpec.nanosEvents(spark)}/events.parquet"
    // the first session to read the file must not fix its type for the next
    Seq("true", "false", "true").foreach { nanosAsLong =>
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      val footer = scala.util.Try(ParquetFooters.schema(s, events))
      val inferred = scala.util.Try(s.read.parquet(events).schema)
      assert(footer.isSuccess === inferred.isSuccess, s"nanosAsLong=$nanosAsLong: $footer vs $inferred")
      if (inferred.isSuccess) assert(footer.get === inferred.get, s"nanosAsLong=$nanosAsLong")
      else assert(footer.failed.get.getMessage.contains("TIMESTAMP(NANOS"),
        s"nanosAsLong=$nanosAsLong: ${footer.failed.get}")
    }
  }
}

object ParquetFootersSpec {

  /** Write one parquet file of `schema` (parquet message syntax) with a
    * single all-zero row, replacing any file at `path`. */
  def writeFile(path: String, schema: String): Unit = {
    val ms = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(ms)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE).build()
    try {
      val g = new SimpleGroupFactory(ms).newGroup()
      ms.getFields.forEach { f =>
        if (f.asPrimitiveType.getPrimitiveTypeName.name == "INT64") g.append(f.getName, 0L)
        else g.append(f.getName, "0")
      }
      w.write(g)
    } finally w.close()
  }

  /** An events table whose ts is parquet TIMESTAMP(NANOS), the layout
    * some generators ship and Spark can read only through nanosAsLong. */
  def nanosEvents(spark: SparkSession): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos-events").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001987654321L).foreach {
      case (id, ts) => w.write(rows.newGroup().append("event_id", id).append("ts", ts))
    } finally w.close()
    dir
  }
}
