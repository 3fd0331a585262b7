package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import Harness._

/** batch_pipeline: one client runs the configured SparkEntry jobs once, in
  * the configured order, in one long-lived session. Each job's rows are
  * collected to the client, so every column is computed (no pruning) and
  * the timed result is the one the oracle checks. No cache or unpersist
  * barrier between jobs, so whatever a job leaves persisted stays for the
  * next.
  */
object BatchWorkload {

  /** The module whose `queries` map defines a job. */
  def module(name: String): String =
    if (Seq(graft.text.TextQueries.queries, graft.text.SelectionQueries.queries,
        graft.text.FrequencyOps.queries, graft.text.SubstringDedup.queries,
        graft.text.ChunkOps.queries, graft.text.RetrievalQueries.queries,
        graft.text.CollocationQueries.queries).exists(_.contains(name))) "text"
    else if (graft.sim.SimilarityQueries.queries.contains(name) ||
      graft.sim.PqAnn.queries.contains(name)) "sim"
    else if (graft.graph.GraphQueries.queries.contains(name)) "graph"
    else "operators"

  def run(root: SparkSession, cfg: JsonNode, out: Path): Outcome = {
    val dir = cfg.get("data_dir").asText()
    val order = strings(cfg.get("order"))
    val warm = strings(cfg.get("warmup"))

    val results = mutable.Map.empty[String, (StructType, Array[Row])]
    def job(s: SparkSession, n: String): Unit = {
      val df = SparkEntry.queries(n)(s, dir)
      results(n) = (df.schema, df.collect())
    }

    val (setupS, s) = timed {
      val s = root.newSession()
      graft.plans.GraftExtensions.install(s)
      Tables.registerAll(s, dir)
      // the TPC-DS star: materialized once per checkout, checksum-verified
      // once per process
      graft.operators.TpcdsGen2.registerViews(s, dir)
      warm.foreach(job(s, _))
      s
    }

    // the oracle texts name the materialized star, so dump them after it
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), json(
      order.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val jobMs = order.map { n =>
      val tj = System.nanoTime()
      try job(s, n)
      catch { case e: Throwable => errors += s"$n: ${e.getMessage}" }
      Map("job" -> n, "ms" -> (System.nanoTime() - tj) / 1e6)
    }
    val windowS = secondsSince(t0)
    val heap = liveHeapMb()

    val traced =
      if (cfg.get("trace").asBoolean()) {
        def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        // untraced passes just before and after the traced one, so they
        // are as warm as it on average, for the overhead
        def plainPass() = order.map { n =>
          val (t, _) = timed(try job(s, n) catch { case _: Throwable => () })
          t * 1e3
        }
        val before = plainPass()
        val (layers, tracedMs) = tracedPass(s, order, dir, out)
        val after = plainPass()
        Some(layers + ("trace.overhead_p50_ms" -> (median(tracedMs) - median(before ++ after))))
      } else None

    // correctness: each job's last collected rows, written for the oracle
    // compare (outside the window and the set-up)
    val verify = out.resolve("verify")
    results.foreach { case (n, (schema, rows)) =>
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(verify.resolve(n).toString)
    }
    Outcome(setupS, Map(
      "ops" -> jobMs, "makespans_s" -> Seq(windowS), "window_s" -> windowS,
      "attempted" -> jobMs.size, "errors" -> errors, "live_heap_mb" -> heap) ++
      traced.map("per_layer" -> _))
  }

  /** One extra pass with listeners and spans on; per-layer averages per
    * job plus the leak counters after the last job.
    */
  private def tracedPass(s: SparkSession, jobs: Seq[String], dir: String,
      out: Path): (Map[String, Double], Seq[Double]) = {
    val sc = s.sparkContext
    val listener = new ExecListener("perfbench-op-")
    sc.addSparkListener(listener)
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var currentOp = ""
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = phases.synchronized {
        qe.tracker.phases.foreach { case (ph, sum) =>
          phases(s"$currentOp/$ph") += sum.durationMs.toDouble
        }
      }
    }
    s.listenerManager.register(qeListener)
    val spans = new Spans
    val moduleMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val storage = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ruleNs0 = RuleTime.nanos("graft.plans")
    val opWall = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val wallMs = mutable.ArrayBuffer.empty[Double]
    jobs.zipWithIndex.foreach { case (n, i) =>
      val tag = s"perfbench-op-$i"
      phases.synchronized { currentOp = tag }
      sc.addJobTag(tag)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try spans(tag, 0, module(n), n) { id =>
        val df = spans(tag, id, module(n), "build")(_ => SparkEntry.queries(n)(s, dir))
        spans(tag, id, "exec", "run")(_ => df.collect())
      } catch { case _: Throwable => () }
      finally sc.removeJobTag(tag)
      wallMs += (System.nanoTime() - t0) / 1e6
      moduleMs(module(n)) += wallMs.last
      opWall += ((tag, startMs, System.currentTimeMillis()))
      val infos = sc.getRDDStorageInfo
      storage += Map("job" -> n, "persisted_rdds" -> sc.getPersistentRDDs.size,
        "storage_bytes" -> infos.map(r => r.memSize + r.diskSize).sum)
    }
    val ruleMs = (RuleTime.nanos("graft.plans") - ruleNs0) / 1e6
    // listener events arrive asynchronously; let the bus drain
    Thread.sleep(500)
    sc.removeSparkListener(listener)
    s.listenerManager.unregister(qeListener)
    val execs = opWall.map { case (t, _, _) => listener.op(t) }.toSeq
    val gaps = opWall.map { case (t, a, b) => listener.op(t).driverGapMs(a, b) }.toSeq
    val nJobs = jobs.size.toDouble
    def phase(ph: String) = phases.collect { case (k, v) if k.endsWith(s"/$ph") => v }.sum / nJobs
    writeLines(out.resolve("spans.jsonl"), spans.toJsonLines)
    writeLines(out.resolve("storage.jsonl"), storage.iterator.map(json))
    (ExecSummary.perOp(execs, gaps) ++ Map(
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "plan.graft_rules_ms" -> ruleMs / nJobs,
      "exec.persisted_rdds" -> storage.last("persisted_rdds").asInstanceOf[Int].toDouble,
      "exec.storage_bytes" -> storage.last("storage_bytes").asInstanceOf[Long].toDouble) ++
      Seq("operators", "text", "sim", "graph").map(m => s"$m.ms" -> moduleMs(m)),
      wallMs.toSeq)
  }
}
