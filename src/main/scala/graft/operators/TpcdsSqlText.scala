package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run the ENTIRE real TPC-DS battery as SQL TEXT through the front
  * door — the reference's e2e gate executes `query{N}.sql` files, not
  * DSL plans (flink-end-to-end-tests/flink-tpcds-test/.../
  * TpcdsTestProgram.java:76-85), so "expressible as a DataFrame twin"
  * is not the same claim as "the text runs". Every `q_tpcdsgen_*`
  * query already carries ONE shared SQL definition: its DuckDB oracle
  * body over the regenerated star schema. That body (minus the
  * generator CTE prefix, which the registered temp views replace) IS
  * the query text, and it executes on Spark after exactly two
  * mechanical dialect rewrites:
  *
  *   - `//` (DuckDB integer division) → `div` (Spark's operator, same
  *     precedence tier as `*`, so `a * 1000000 // b` keeps meaning);
  *   - the bare `customer` table name → the `customer_dim` view (the
  *     TPC-H `customer` table owns that name in the shared session).
  *
  * Everything else — `::TYPE` postfix casts, `||` concat, implicit
  * FROM-list joins, correlated [NOT] EXISTS, window frames, HAVING
  * on grouped aliases — parses identically in both engines, so one
  * string feeds both sides and the text battery can never drift from
  * the oracle battery. Each `*_sqltext` row registers the generated
  * views and hands the translated text to `spark.sql`, and its
  * oracle entry is the UNtranslated original.
  *
  * The text is also the ONE Spark definition of 93 of the 99
  * `q_tpcdsgen_qN` rows: SQL text and DataFrames go through the same
  * Catalyst optimizer, so a hand-written DataFrame twin buys no plan
  * unless it spells one the text does not. Six rows keep such a body
  * ([[bodies]]); their `_sqltext` rows stay the check of the text
  * against the same oracle.
  */
object TpcdsSqlText {

  private def base: Map[String, String] =
    TpcdsGen.oracle ++ TpcdsGen2.oracle ++ TpcdsGen3.oracle

  /** The Spark-executable text for a battery query: the shared SQL
    * body with the two dialect rewrites applied. The rewrites are
    * TEXTUAL over the whole body, so any quoted string literal
    * containing a rewritten token would be silently corrupted into a
    * query that still runs but diverges from the oracle (r14
    * advisory) — the require below turns that silent drift into a
    * loud failure at translation time. */
  def sparkText(name: String): String =
    texts.computeIfAbsent(TpcdsGen.oracleGenSql,
      prefix => base.map { case (n, full) => n -> translate(n, full, prefix) })(name)

  /** Translated texts by oracle prefix. Building one oracle string
    * builds all 99, which costs 25–50 ms: as much as planning a small
    * query, so it is done once per prefix, not per run. */
  private val texts =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  private def translate(name: String, full: String, prefix: String): String = {
    require(full.startsWith(prefix), s"$name oracle does not start with the gen prefix")
    val body = full.stripPrefix(prefix).trim
    val bareCustomer = "\\bcustomer\\b".r
    val quoted = "'[^']*'".r.findAllIn(body)
    require(!quoted.exists(l =>
        l.contains("//") || bareCustomer.findFirstIn(l).isDefined),
      s"$name: a quoted literal contains a dialect-rewrite token ('//' or " +
        "bare 'customer') — the blind textual rewrite would corrupt it; " +
        "rename the literal or make the rewrite quote-aware")
    val standalone =
      if (body.startsWith(",")) "WITH " + body.drop(1).trim
      else body
    standalone
      .replace("//", " div ")
      .replaceAll("\\bcustomer\\b", "customer_dim")
  }

  private def run(name: String)(s: SparkSession, dir: String): DataFrame = {
    TpcdsGen2.registerViews(s, dir)
    // Through the front door — the pre-parser (SET/DDL/hint handling)
    // is a no-op on standard SQL text, and routing here proves it.
    graft.sql.GraftSql.sql(s, sparkText(name))
  }

  /** The rows whose DataFrame body plans better than their text:
    *   - q2, q14, q64 and q75 fold a year-over-year self-join into one
    *     pass of conditional aggregates (r16/r17). The text still
    *     spells the self-join, so it scans each fact table 2–6 times
    *     where the body scans it once.
    *   - q23 materializes its two two-consumer threshold aggregates
    *     once above a fact-size gate (`localCheckpoint`), which SQL
    *     cannot express.
    *   - q82 dedups the item keys of its two EXISTS sides before the
    *     semi joins; the text broadcasts one store_sales key per fact
    *     row, which measured 1.29–1.56x slower at sf0.1.
    */
  private val bodies: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpcdsgen_q2"  -> (TpcdsGen2.q2 _),
    "q_tpcdsgen_q14" -> (TpcdsGen2.q14 _),
    "q_tpcdsgen_q23" -> (TpcdsGen2.q23 _),
    "q_tpcdsgen_q64" -> (TpcdsGen3.q64 _),
    "q_tpcdsgen_q75" -> (TpcdsGen2.q75 _),
    "q_tpcdsgen_q82" -> (TpcdsGen2.q82 _))

  /** Every generator row: `name_sqltext` runs the translated text, and
    * `name` runs its body if it keeps one, else the same text. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    base.keySet.toSeq.flatMap { name =>
      val text = run(name) _
      Seq(s"${name}_sqltext" -> text, name -> bodies.getOrElse(name, text))
    }.toMap

  def oracle: Map[String, String] =
    base.map { case (name, sql) => s"${name}_sqltext" -> sql }
}
