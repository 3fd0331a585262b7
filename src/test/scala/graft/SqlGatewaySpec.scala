package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.tools.SqlGateway

/** The SQL Gateway REST entry (flink-sql-gateway v1 surface) driven
  * over a real loopback socket: open session → execute statements
  * (DDL + query through the dialect front door) → poll status →
  * fetch paged results → close. Error statements surface through the
  * operation status + fetch errors, like the reference.
  */
class SqlGatewaySpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private lazy val http = HttpClient.newHttpClient()

  private def gw(): SqlGateway = new SqlGateway(spark).start()

  private def post(port: Int, path: String, body: String = "") = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = (if (body.isEmpty) b.POST(HttpRequest.BodyPublishers.noBody())
      else b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }
  private def get(port: Int, path: String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }
  private def delete(port: Int, path: String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def statement(s: String): String =
    mapper.writeValueAsString(mapper.createObjectNode().put("statement", s))

  test("session lifecycle + statement execution + result fetch over the wire") {
    val g = gw()
    try {
      val port = g.boundPort
      val (c0, open) = post(port, "/v1/sessions")
      assert(c0 === 200)
      val sh = open.get("sessionHandle").asText()
      assert(sh.nonEmpty)
      // heartbeat + config
      assert(post(port, s"/v1/sessions/$sh/heartbeat")._1 === 200)
      val (c1, conf) = get(port, s"/v1/sessions/$sh")
      assert(c1 === 200 && conf.get("properties").isObject)
      // a DDL statement through the dialect front door
      val (c2, exec1) = post(port, s"/v1/sessions/$sh/statements",
        statement("""CREATE TABLE gw_t (id BIGINT, v DOUBLE) WITH (
          |  'connector' = 'datagen', 'number-of-rows' = '5',
          |  'fields.id.kind' = 'sequence', 'fields.id.start' = '1')""".stripMargin))
      assert(c2 === 200)
      val oh1 = exec1.get("operationHandle").asText()
      assert(get(port, s"/v1/sessions/$sh/operations/$oh1/status")
        ._2.get("status").asText() === "FINISHED")
      // a query over it
      val (_, exec2) = post(port, s"/v1/sessions/$sh/statements",
        statement("SELECT id, v FROM gw_t ORDER BY id"))
      val oh2 = exec2.get("operationHandle").asText()
      val (c3, res) = get(port, s"/v1/sessions/$sh/operations/$oh2/result/0")
      assert(c3 === 200)
      assert(res.get("resultType").asText() === "PAYLOAD")
      val cols = res.get("results").get("columns")
      assert(cols.get(0).get("name").asText() === "id")
      assert(cols.get(0).get("logicalType").get("type").asText() === "BIGINT")
      val data = res.get("results").get("data")
      assert(data.size() === 5)
      assert((0 until 5).map(i => data.get(i).get("fields").get(0).asLong()) ===
        (1L to 5L))
      assert(data.get(0).get("kind").asText() === "INSERT")
      // one page only → next token is EOS
      assert(res.get("nextResultUri") == null)
      assert(get(port, s"/v1/sessions/$sh/operations/$oh2/result/1")
        ._2.get("resultType").asText() === "EOS")
      // close: session gone, its operations too
      assert(delete(port, s"/v1/sessions/$sh")._2.get("status").asText() === "CLOSED")
      assert(get(port, s"/v1/sessions/$sh")._1 === 404)
      assert(get(port, s"/v1/sessions/$sh/operations/$oh2/result/0")._1 === 404)
    } finally g.stop()
  }

  test("error statements report ERROR status and errors in the fetch") {
    val g = gw()
    try {
      val port = g.boundPort
      val sh = post(port, "/v1/sessions")._2.get("sessionHandle").asText()
      val oh = post(port, s"/v1/sessions/$sh/statements",
        statement("SELECT * FROM no_such_table_anywhere"))
        ._2.get("operationHandle").asText()
      assert(get(port, s"/v1/sessions/$sh/operations/$oh/status")
        ._2.get("status").asText() === "ERROR")
      val (_, res) = get(port, s"/v1/sessions/$sh/operations/$oh/result/0")
      assert(res.get("resultType").asText() === "EOS")
      assert(res.get("errors").get(0).asText().nonEmpty)
      // bad requests: missing statement, unknown session
      assert(post(port, s"/v1/sessions/$sh/statements", statement(""))._1 === 400)
      assert(post(port, "/v1/sessions/nope/statements",
        statement("SELECT 1"))._1 === 404)
    } finally g.stop()
  }

  test("gateway sessions are isolated (per-session catalog)") {
    val g = gw()
    try {
      val port = g.boundPort
      val sh1 = post(port, "/v1/sessions")._2.get("sessionHandle").asText()
      val sh2 = post(port, "/v1/sessions")._2.get("sessionHandle").asText()
      post(port, s"/v1/sessions/$sh1/statements",
        statement("CREATE VIEW gw_iso AS SELECT 42 AS a"))
      // visible in sh1
      val oh1 = post(port, s"/v1/sessions/$sh1/statements",
        statement("SELECT a FROM gw_iso"))._2.get("operationHandle").asText()
      assert(get(port, s"/v1/sessions/$sh1/operations/$oh1/status")
        ._2.get("status").asText() === "FINISHED")
      // invisible in sh2 — its own catalog
      val oh2 = post(port, s"/v1/sessions/$sh2/statements",
        statement("SELECT a FROM gw_iso"))._2.get("operationHandle").asText()
      assert(get(port, s"/v1/sessions/$sh2/operations/$oh2/status")
        ._2.get("status").asText() === "ERROR")
    } finally g.stop()
  }

  test("a six-table join over catalog views of parquet files plans with no Spark " +
      "job in a gateway session; two gateway sessions agree with a plain session") {
    val tables = Seq("region", "nation", "customer", "orders", "lineitem", "supplier")
    // catalog views, as gateway sessions see the shared catalog, not temp views
    tables.foreach { t =>
      spark.sql(s"CREATE OR REPLACE VIEW gwf_$t AS SELECT * FROM parquet.`$sfDir/$t.parquet`")
    }
    val q = """SELECT r_name, n_name, COUNT(*) AS line_count, SUM(l_linenumber) AS line_sum
      |FROM gwf_customer JOIN gwf_orders ON c_custkey = o_custkey
      |JOIN gwf_lineitem ON l_orderkey = o_orderkey
      |JOIN gwf_supplier ON l_suppkey = s_suppkey
      |JOIN gwf_nation ON s_nationkey = n_nationkey
      |JOIN gwf_region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin
    val g = gw()
    try {
      val port = g.boundPort
      // the shared session is plain Spark: one inference job per view
      val (plainDf, plainJobs) = JobCount.of(spark)(graft.sql.GraftSql.sql(spark, q))
      assert(plainJobs === tables.size)
      val expected = plainDf.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(expected.nonEmpty)

      val sh = post(port, "/v1/sessions")._2.get("sessionHandle").asText()
      val session = g.session(sh).get
      val (df, jobs) = JobCount.of(spark)(graft.sql.GraftSql.sql(session, q))
      assert(jobs === 0, s"planning in a gateway session ran $jobs Spark jobs")
      assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq === expected)

      // the same statement from two gateway sessions at once, over HTTP
      val handles = Seq.fill(2)(post(port, "/v1/sessions")._2.get("sessionHandle").asText())
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val results = handles.map { h =>
          pool.submit(() => {
            val oh = post(port, s"/v1/sessions/$h/statements", statement(q))
              ._2.get("operationHandle").asText()
            val (_, res) = get(port, s"/v1/sessions/$h/operations/$oh/result/0")
            assert(res.get("resultType").asText() === "PAYLOAD", res.toString)
            res.get("results").get("data").elements().asScala.map { row =>
              row.get("fields").elements().asScala.map(_.asText()).toSeq
            }.toSeq
          })
        }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
        results.foreach(rows => assert(rows === expected))
      } finally pool.shutdown()
    } finally {
      g.stop()
      tables.foreach(t => spark.sql(s"DROP VIEW IF EXISTS gwf_$t"))
    }
  }
}
