package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What every workload hands back to [[Harness]]. */
final case class Outcome(
    /** set-up seconds after the SparkSession is ready: to the first
      * measured operation, or the median where the workload sets up
      * several times */
    setupS: Double,
    /** workload-specific measurements, written as given */
    fields: Map[String, Any])

/** Entry point: `perfbench.Harness <config.json>`. The config names the
  * workload, the generated inputs, the output directory and whether
  * the run is traced. The harness writes `result.json` (and, per
  * workload, result files for the correctness check and `spans.jsonl`)
  * into the output directory; perfbench/run.py turns them into metrics.
  */
object Harness {
  /** Reads the config and writes the result files; Scala maps, sequences
    * and options serialise as JSON objects, arrays and values or null. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    val out = Paths.get(cfg.get("out_dir").asText())
    Files.createDirectories(out)
    val cpus = cfg.get("cpus").asInt()
    val work = cfg.get("work_dir").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start → SparkContext up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val contextReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val outcome =
      try cfg.get("workload").asText() match {
        case "sql_interactive" => SqlWorkload.run(spark, cfg, out)
        case "batch_pipeline" => BatchWorkload.run(spark, cfg, out)
        case "stream_changelog" => StreamWorkload.run(spark, cfg, out)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    Files.writeString(out.resolve("result.json"), json(
      outcome.fields ++ Map(
        "context_ready_s" -> contextReadyS,
        "setup_s" -> (contextReadyS + outcome.setupS))))
  }

  // ---- helpers shared by the workloads ----

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
  def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt()).toSeq

  /** Heap in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `body`'s result and its wall time in seconds. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    (secondsSince(t0), r)
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
