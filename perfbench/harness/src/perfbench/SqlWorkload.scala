package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.sql.GraftSql
import graft.tools.SqlGateway
import Harness._

/** sql_interactive: an in-process SqlGateway on an ephemeral port serves
  * closed-loop HTTP clients, each in its own gateway session. A pass is
  * the seed's statement list in the seed's order, drained from a shared
  * queue; the run measures a fixed number of passes.
  */
object SqlWorkload {

  /** One statement as a client saw it. */
  final case class Exec(stmt: Int, startNs: Long, executeNs: Long, endNs: Long,
      bytes: Long, columns: JsonNode, rows: Seq[JsonNode], error: String)

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val base = s"http://127.0.0.1:$port/v1"

    private def call(method: String, path: String, body: String = ""): (JsonNode, Long) = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
      val req = method match {
        case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build()
        case "DELETE" => b.DELETE().build()
        case _ => b.GET().build()
      }
      val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      (Harness.mapper.readTree(resp.body()), resp.body().length.toLong)
    }

    val session: String = call("POST", "/sessions")._1.get("sessionHandle").asText()

    def close(): Unit = call("DELETE", s"/sessions/$session")

    /** Execute, then fetch every result page. */
    def execute(stmt: Int, text: String): Exec = {
      val t0 = System.nanoTime()
      val (ex, _) = call("POST", s"/sessions/$session/statements",
        json(Map("statement" -> text)))
      val t1 = System.nanoTime()
      val oh = ex.get("operationHandle").asText()
      var next: String = s"/sessions/$session/operations/$oh/result/0"
      var bytes = 0L
      var columns: JsonNode = null
      val rows = mutable.ArrayBuffer.empty[JsonNode]
      var error: String = null
      while (next != null) {
        val (page, n) = call("GET", next)
        bytes += n
        if (page.has("errors")) error = page.get("errors").toString
        if (page.has("results")) {
          columns = page.get("results").get("columns")
          page.get("results").get("data").elements().asScala.foreach(rows += _.get("fields"))
        }
        next = Option(page.get("nextResultUri")).map(_.asText().stripPrefix("/v1")).orNull
      }
      Exec(stmt, t0, t1, System.nanoTime(), bytes, columns, rows.toSeq, error)
    }
  }

  def run(root: SparkSession, cfg: JsonNode, out: Path): Outcome = {
    val dir = cfg.get("data_dir").asText()
    val nClients = cfg.get("clients").asInt()
    val statements = strings(cfg.get("statements")).toIndexedSeq
    val passes = cfg.get("passes").elements().asScala.map(ints).toSeq
    val warm = ints(cfg.get("warmup"))

    /** Tables as catalog views over the parquet files (gateway sessions
      * are fresh sessions and see the shared catalog, not temp views), a
      * gateway on an ephemeral port, one session per client and every
      * statement shape once, spread over the clients.
      */
    def setUp(): (SqlGateway, Seq[Client]) = {
      graft.Tables.names.foreach { t =>
        val df = graft.Tables.load(root, dir, t)
        val cols = df.schema.fields.map { f =>
          if (f.dataType.typeName.startsWith("timestamp")) s"CAST(`${f.name}` AS TIMESTAMP) AS `${f.name}`"
          else s"`${f.name}`"
        }.mkString(", ")
        root.sql(s"CREATE OR REPLACE VIEW `$t` AS SELECT $cols FROM parquet.`$dir/$t.parquet`")
      }
      val gateway = new SqlGateway(root, 0).start()
      val cs = (1 to nClients).map(_ => new Client(gateway.boundPort))
      cs.zipWithIndex.par { case (c, ci) =>
        warm.zipWithIndex.filter(_._2 % nClients == ci).foreach(w => c.execute(w._1, statements(w._1)))
      }
      (gateway, cs)
    }
    def tearDown(g: SqlGateway, cs: Seq[Client]): Unit = {
      cs.foreach(_.close())
      g.stop()
    }

    // set up `setups` times and keep the last; the median is the set-up time
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var (gateway, clients) = (null: SqlGateway, Seq.empty[Client])
    (1 to cfg.get("setups").asInt()).foreach { _ =>
      if (gateway != null) tearDown(gateway, clients)
      val (t, (g, cs)) = timed(setUp())
      setupTimes += t
      gateway = g
      clients = cs
    }
    try {
      val (execs, makespans, windowS) = window(clients, statements, passes, None)
      val heap = liveHeapMb()
      val traced =
        if (cfg.get("trace").asBoolean())
          Some(tracedWindow(root, clients, statements, passes, out))
        else None
      // results for the oracle compare, one line per execution
      writeLines(out.resolve("results.jsonl"), execs.iterator.map { e =>
        json(Map("stmt" -> e.stmt, "error" -> e.error,
          "columns" -> Option(e.columns).map(_.toString).orNull,
          "rows" -> e.rows.map(_.toString)))
      })
      Outcome(setupTimes.sorted.apply(setupTimes.size / 2), Map(
        "ops" -> execs.map(e => Map("stmt" -> e.stmt, "ms" -> (e.endNs - e.startNs) / 1e6)),
        "makespans_s" -> makespans, "window_s" -> windowS,
        "attempted" -> execs.size,
        "errors" -> execs.filter(_.error != null).map(e => s"${e.stmt}: ${e.error}"),
        "live_heap_mb" -> heap, "setups_s" -> setupTimes.toSeq) ++
        traced.map("per_layer" -> _))
    } finally tearDown(gateway, clients)
  }

  implicit class ParSeq[A](xs: Seq[A]) {
    /** Run `f` on every element, one thread each, and wait for all. */
    def par(f: A => Unit): Unit = {
      val ts = xs.map(x => new Thread(() => f(x)))
      ts.foreach(_.start())
      ts.foreach(_.join())
    }
  }

  /** Every configured pass, closed loop, whatever the elapsed time, so a
    * run's sample count is fixed; `replay` (traced run only) runs after
    * each statement on the same client thread.
    */
  private def window(clients: Seq[Client], statements: IndexedSeq[String],
      passes: Seq[Seq[Int]],
      replay: Option[(Int, Exec) => Unit]): (Seq[Exec], Seq[Double], Double) = {
    val execs = new ConcurrentLinkedQueue[Exec]()
    val makespans = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    passes.foreach { pass =>
      val queue = new ConcurrentLinkedQueue[Integer](pass.map(Int.box).asJava)
      val tp = System.nanoTime()
      clients.zipWithIndex.par { case (c, ci) =>
        var next = queue.poll()
        while (next != null) {
          val e = try c.execute(next, statements(next)) catch {
            case ex: Throwable =>
              val now = System.nanoTime()
              Exec(next, now, now, now, 0, null, Nil, String.valueOf(ex))
          }
          execs.add(e)
          replay.foreach(_(ci, e))
          next = queue.poll()
        }
      }
      makespans += secondsSince(tp)
    }
    (execs.asScala.toSeq, makespans.toSeq, secondsSince(t0))
  }

  /** The traced window: each statement goes through the gateway as in
    * the untraced window, then is replayed in-process on the client's
    * thread — rewrite, front door, physical planning, collect — under a
    * job tag, so the listener can attribute Spark work to it. A window
    * with the same replays but no listener, tags or spans comes first:
    * the tracing overhead compares the two.
    */
  private def tracedWindow(root: SparkSession, clients: Seq[Client],
      statements: IndexedSeq[String], passes: Seq[Seq[Int]], out: Path): Map[String, Double] = {
    val sc = root.sparkContext
    val sessions = clients.map(_ => root.newSession())
    val (plain, _, _) = window(clients, statements, passes, Some { (ci, e) =>
      val s = sessions(ci)
      val text = statements(e.stmt)
      try {
        GraftSql.rewrite(text)
        val df = GraftSql.sql(s, text)
        df.queryExecution.executedPlan
        df.collect()
      } catch { case _: Throwable => () }
      ()
    })
    val listener = new ExecListener("perfbench-op-")
    sc.addSparkListener(listener)
    val spans = new Spans
    val opIds = new AtomicInteger(0)
    val stats = new ConcurrentLinkedQueue[Map[String, Double]]()
    val opWall = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val ruleNs0 = RuleTime.nanos("graft.plans")
    val replay = (ci: Int, e: Exec) => {
      val tag = s"perfbench-op-${opIds.incrementAndGet()}"
      val text = statements(e.stmt)
      val s = sessions(ci)
      spans.record(tag, 0, "gateway", "execute", e.startNs, e.executeNs)
      spans.record(tag, 0, "gateway", "fetch", e.executeNs, e.endNs)
      sc.addJobTag(tag)
      val startMs = System.currentTimeMillis()
      val r0 = System.nanoTime()
      try spans(tag, 0, "replay", "statement") { rid =>
        val rewriteT0 = System.nanoTime()
        spans(tag, rid, "sql", "rewrite")(_ => GraftSql.rewrite(text))
        val rewriteMs = (System.nanoTime() - rewriteT0) / 1e6
        val fd0 = System.nanoTime()
        val df = spans(tag, rid, "sql", "front_door")(_ => GraftSql.sql(s, text))
        val frontMs = (System.nanoTime() - fd0) / 1e6
        spans(tag, rid, "plan", "executed_plan")(_ => df.queryExecution.executedPlan)
        spans(tag, rid, "exec", "collect")(_ => df.collect())
        val ph = df.queryExecution.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        val inProcessMs = (System.nanoTime() - r0) / 1e6
        stats.add(Map(
          "sql.rewrite_ms" -> rewriteMs, "sql.front_door_ms" -> frontMs,
          "plan.optimization_ms" -> phase("optimization"),
          "plan.planning_ms" -> phase("planning"),
          "gateway.execute_ms" -> (e.executeNs - e.startNs) / 1e6,
          "gateway.fetch_ms" -> (e.endNs - e.executeNs) / 1e6,
          "gateway.result_bytes" -> e.bytes.toDouble,
          "gateway.http_overhead_ms" -> ((e.endNs - e.startNs) / 1e6 - inProcessMs)))
      } catch { case _: Throwable => () }
      finally sc.removeJobTag(tag)
      opWall.add((tag, startMs, System.currentTimeMillis()))
      ()
    }
    val (execs, _, _) = window(clients, statements, passes, Some(replay))
    val ruleMs = (RuleTime.nanos("graft.plans") - ruleNs0) / 1e6
    Thread.sleep(500)
    sc.removeSparkListener(listener)
    writeLines(out.resolve("spans.jsonl"), spans.toJsonLines)
    val walls = opWall.asScala.toSeq
    val st = stats.asScala.toSeq
    val n = st.size.max(1).toDouble
    val keys = st.headOption.map(_.keys).getOrElse(Nil)
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val lat = (es: Seq[Exec]) => median(es.map(e => (e.endNs - e.startNs) / 1e6))
    ExecSummary.perOp(walls.map(w => listener.op(w._1)),
      walls.map { case (t, a, b) => listener.op(t).driverGapMs(a, b) }) ++
      keys.map(k => k -> st.map(_(k)).sum / n) ++ Map(
        "plan.graft_rules_ms" -> ruleMs / n,
        "trace.overhead_p50_ms" -> (lat(execs) - lat(plain)))
  }
}
