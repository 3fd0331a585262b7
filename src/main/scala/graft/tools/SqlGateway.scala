package graft.tools

import java.net.InetSocketAddress
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** One finished gateway operation: terminal status + collected page
  * source (top-level so the type test inside the handler is exact).
  */
private[tools] final case class GatewayOp(status: String, error: String,
    columns: Seq[(String, String)], rows: Seq[Seq[Any]])

/** The SQL Gateway's REST entry (the reference's third external entry
  * point, SURVEY §3.4): flink-table/flink-sql-gateway's endpoint
  * surface re-served over the JDK's built-in HTTP server, executing
  * statements through the same front door as the shell
  * ([[graft.sql.GraftSql.sql]]).
  *
  * Endpoint shapes follow the reference's v1 REST headers
  * (rest/header/session/OpenSessionHeaders.java `/sessions`,
  * statement/ExecuteStatementHeaders.java
  * `/sessions/:sh/statements`, statement/FetchResultsHeaders.java
  * `/sessions/:sh/operations/:oh/result/:token`,
  * operation/GetOperationStatusHandler.java) and response fields
  * (`sessionHandle`, `operationHandle`, `resultType` PAYLOAD/EOS,
  * `nextResultUri`, `results.columns/data`, row `kind` = INSERT).
  * One deliberate divergence: statements execute synchronously on
  * submit (status goes straight to FINISHED/ERROR) — the async
  * operation API shape is preserved, the scheduling is not; Spark's
  * session is the execution engine, there is no separate cluster to
  * defer to.
  *
  * Each gateway session is a `newSession()` (own Spark catalog,
  * conf and temp views on the shared context) whose analyzer adds one
  * rule, [[graft.plans.ResolveParquetFooters]]: a statement re-analyses
  * every catalog view it names, and each `` parquet.`path` `` in a view
  * body would otherwise run a schema-inference Spark job before the
  * statement executes; with the rule, planning reads footers and runs
  * none. The rule is registered once, when the gateway is constructed,
  * on the extensions the root session shares with every `newSession()`
  * — so the embedded gateway and the standalone `main` serve the same
  * analyzer. SCOPE of that
  * isolation: graft's connector-DDL registries ([[graft.catalog.GraftCatalog]])
  * are process-global by design — two gateway sessions creating the
  * same connector TABLE name share (and overwrite) one registration,
  * so this gateway is single-tenant per table namespace, unlike the
  * reference's fully per-session TableEnvironment. Query results are
  * materialized per operation and retained until the session closes
  * (DELETE) — clients should close sessions they are done with.
  */
final class SqlGateway(root: SparkSession, port: Int = 0) {

  private val mapper = new ObjectMapper()
  private val sessions = new ConcurrentHashMap[String, SparkSession]()
  /** (sessionHandle, operationHandle) → finished operation result */
  private val ops = new ConcurrentHashMap[(String, String), GatewayOp]()

  /** Rows per fetch page — small enough to page, big enough that the
    * specs' results arrive in one PAYLOAD.
    */
  val PageSize = 1000

  graft.plans.ResolveParquetFooters.register(root)

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // a pool, not the JDK default single dispatcher thread: a long
  // statement must not block other sessions' heartbeats/status polls
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
  server.createContext("/v1/", (ex: HttpExchange) => handle(ex))

  def start(): SqlGateway = { server.start(); this }
  def stop(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdown()
      case _ => ()
    }
    sessions.clear()
    ops.clear()
  }
  /** The bound port (ephemeral when constructed with 0). */
  def boundPort: Int = server.getAddress.getPort

  /** The Spark session behind an open session handle. */
  private[graft] def session(handle: String): Option[SparkSession] =
    Option(sessions.get(handle))

  private def respond(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.putArray("errors").add(msg)
    respond(ex, code, o)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripPrefix("/v1").stripSuffix("/")
    val parts = path.split("/").filter(_.nonEmpty).toList
    (ex.getRequestMethod, parts) match {
      // POST /v1/sessions — open
      case ("POST", List("sessions")) =>
        val sh = UUID.randomUUID().toString
        sessions.put(sh, root.newSession())
        val o = mapper.createObjectNode()
        o.put("sessionHandle", sh)
        respond(ex, 200, o)
      // GET /v1/sessions/{sh} — session config (full map; credential
      // values redacted — a jdbc catalog's password lives in conf)
      case ("GET", List("sessions", sh)) =>
        val s = sessions.get(sh)
        if (s == null) return error(ex, 404, s"unknown session $sh")
        val o = mapper.createObjectNode()
        val props = o.putObject("properties")
        val secret = Seq("password", "secret", "token", "credential")
        s.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val kl = k.toLowerCase(java.util.Locale.ROOT)
          props.put(k, if (secret.exists(kl.contains)) "******" else v)
        }
        respond(ex, 200, o)
      // DELETE /v1/sessions/{sh} — close
      case ("DELETE", List("sessions", sh)) =>
        if (sessions.remove(sh) == null) return error(ex, 404, s"unknown session $sh")
        ops.keySet.removeIf(_._1 == sh)
        val o = mapper.createObjectNode()
        o.put("status", "CLOSED")
        respond(ex, 200, o)
      // POST /v1/sessions/{sh}/heartbeat
      case ("POST", List("sessions", sh, "heartbeat")) =>
        if (!sessions.containsKey(sh)) return error(ex, 404, s"unknown session $sh")
        respond(ex, 200, mapper.createObjectNode())
      // POST /v1/sessions/{sh}/statements — execute
      case ("POST", List("sessions", sh, "statements")) =>
        val s = sessions.get(sh)
        if (s == null) return error(ex, 404, s"unknown session $sh")
        val body = mapper.readTree(ex.getRequestBody)
        val stmt = Option(body.get("statement")).map(_.asText()).getOrElse("")
        if (stmt.trim.isEmpty) return error(ex, 400, "missing 'statement'")
        val oh = UUID.randomUUID().toString
        val op =
          try {
            val df = graft.sql.GraftSql.sql(s, stmt)
            val cols = df.schema.fields.toSeq.map(f => (f.name, f.dataType.sql))
            val rows = df.collect().toSeq.map(r =>
              (0 until r.length).map(i => r.get(i)))
            GatewayOp("FINISHED", null, cols, rows)
          } catch {
            case e: Throwable => GatewayOp("ERROR", String.valueOf(e.getMessage), Nil, Nil)
          }
        ops.put((sh, oh), op)
        val o = mapper.createObjectNode()
        o.put("operationHandle", oh)
        respond(ex, 200, o)
      // GET /v1/sessions/{sh}/operations/{oh}/status
      case ("GET", List("sessions", sh, "operations", oh, "status")) =>
        val op = ops.get((sh, oh))
        if (op == null) return error(ex, 404, s"unknown operation $oh")
        val o = mapper.createObjectNode()
        o.put("status", op.status)
        respond(ex, 200, o)
      // GET /v1/sessions/{sh}/operations/{oh}/result/{token}
      case ("GET", List("sessions", sh, "operations", oh, "result", tokenS)) =>
        val op = ops.get((sh, oh))
        if (op == null) return error(ex, 404, s"unknown operation $oh")
        if (op.status == "ERROR") {
          val o = mapper.createObjectNode()
          o.put("resultType", "EOS")
          o.putArray("errors").add(op.error)
          return respond(ex, 200, o)
        }
        val token = tokenS.toInt
        val from = token * PageSize
        val page = op.rows.slice(from, from + PageSize)
        val o = mapper.createObjectNode()
        if (from >= op.rows.length && token > 0) {
          o.put("resultType", "EOS")
          return respond(ex, 200, o)
        }
        o.put("resultType", "PAYLOAD")
        val results = o.putObject("results")
        val colArr = results.putArray("columns")
        op.columns.foreach { case (n, t) =>
          val c = colArr.addObject()
          c.put("name", n)
          c.putObject("logicalType").put("type", t)
        }
        val dataArr = results.putArray("data")
        page.foreach { r =>
          val rowO = dataArr.addObject()
          rowO.put("kind", "INSERT")
          val fields = rowO.putArray("fields")
          r.foreach(v => addValue(fields, v))
        }
        if (from + PageSize < op.rows.length)
          o.put("nextResultUri",
            s"/v1/sessions/$sh/operations/$oh/result/${token + 1}")
        respond(ex, 200, o)
      case (m, p) => error(ex, 404, s"no route $m /v1/${p.mkString("/")}")
    }
  } catch {
    case e: Throwable => error(ex, 500, String.valueOf(e.getMessage))
  }

  private def addValue(arr: ArrayNode, v: Any): Unit = v match {
    case null => arr.addNull()
    case b: Boolean => arr.add(b)
    case i: Int => arr.add(i)
    case l: Long => arr.add(l)
    case d: Double => arr.add(d)
    case f: Float => arr.add(f)
    case s: Short => arr.add(s.toInt)
    case b: Byte => arr.add(b.toInt)
    case d: java.math.BigDecimal => arr.add(d)
    case d: BigDecimal => arr.add(d.bigDecimal)
    case s: String => arr.add(s)
    case other => arr.add(String.valueOf(other))
  }
}

object SqlGateway {
  /** Standalone launcher: `runMain graft.tools.SqlGateway [port]`. */
  def main(args: Array[String]): Unit = {
    val port = if (args.nonEmpty) args(0).toInt else 8083
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val gw = new SqlGateway(spark, port).start()
    println(s"SQL gateway listening on ${gw.boundPort}")
    Thread.currentThread().join()
  }
}
