package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TpcdsGen => G}

/** Real TPC-DS queries over the extended deterministic star schema in
  * [[TpcdsGen]] — the web channel, ship/return dates, inventory and
  * the time/household dims unlock the shipping-latency, time-band,
  * returns-audit and inventory families of the published benchmark.
  * Same contract as TpcdsGen: every query is hash-checked end to end
  * because DuckDB regenerates the identical tables from closed-form
  * CTEs (the reference's own at-scale gate is the generated-TPC-DS
  * battery, flink-end-to-end-tests/flink-tpcds-test/.../
  * TpcdsTestProgram.java:76-85).
  *
  * Each query is written once, as its oracle text, and Spark runs that
  * text ([[TpcdsSqlText]]). Scale notes baked into the texts: dims
  * broadcast (fixed-size by construction), facts scan exactly once
  * per query, band/pivot queries are ONE conditional-aggregate pass
  * (never N filtered subqueries cross-joined, which is how the
  * published texts spell them), and every threshold cut is
  * cross-multiplied exact integers so no float ever decides row
  * membership. Five queries keep a DataFrame body, because their plan
  * is one the text does not spell: q2, q14 and q75 fold a
  * year-over-year self-join into one pass, q23 materializes its
  * shared threshold aggregates above a size gate, and q82 dedups its
  * semi-join keys before the broadcast.
  */
object TpcdsGen2 {

  /** TPC-DS q2: catalog+web weekly revenue pivoted by day of week,
    * compared against the same week one year out — the union collapses
    * to (week, dow) grain in one pass, the YoY comparison self-joins
    * the 104-row aggregate, ratios in NULL-guarded integer ppm.
    */
  def q2(s: SparkSession, dir: String): DataFrame = {
    val n = G.nSales(s, dir)
    val dd = broadcast(G.dateDim(s))
    // ONE pass over the union: fold both years onto the same 52-row
    // week-in-year grain with per-(dow, half) conditional sums. The
    // earlier form aggregated the SAME union twice (y1/y2 filters on
    // one `wk` frame — Catalyst does not share the subtree, so the
    // plan scanned catalog+web FULLY twice and sort-merge self-joined;
    // r16 measured 2.1 s) — the YoY self-join collapses into the
    // aggregate, 2 fact scans → 1, the join's week-presence semantics
    // carried by max-flags per half.
    val dows = Seq("sun", "mon", "tue", "wed", "thu", "fri", "sat")
    val wk = G.catalogSales(s, n)
      .select(col("cs_sold_date_sk").as("sold_sk"), col("cs_ext_sales_price_c").as("p"))
      .unionAll(G.webSales(s, n)
        .select(col("ws_sold_date_sk").as("sold_sk"), col("ws_ext_sales_price_c").as("p")))
      .join(dd, col("sold_sk") === col("d_date_sk"))
      .where(col("d_week_seq") <= 104)
      .withColumn("wk", when(col("d_week_seq") <= 52, col("d_week_seq"))
        .otherwise(col("d_week_seq") - 52))
      .groupBy(col("wk"))
      .agg(
        max(when(col("d_week_seq") <= 52, 1).otherwise(0)).as("has1"),
        dows.zipWithIndex.flatMap { case (d, i) => Seq(
          sum(when(col("d_week_seq") <= 52 && col("d_dow") === i, col("p"))
            .otherwise(0L)).as(s"${d}_sales"),
          sum(when(col("d_week_seq") > 52 && col("d_dow") === i, col("p"))
            .otherwise(0L)).as(s"${d}2"))
        } :+ max(when(col("d_week_seq") > 52, 1).otherwise(0)).as("has2"): _*)
    dows
      .foldLeft(wk.where(col("has1") === 1 && col("has2") === 1)) { (df, d) =>
        df.withColumn(s"${d}_ratio_ppm",
          expr(s"${d}_sales * 1000000 div nullif(${d}2, 0)"))
      }
      .select(col("wk").as("d_week_seq") +: dows.map(d => col(s"${d}_ratio_ppm")): _*)
  }

  /** TPC-DS q75: brands in one category whose net unit sales (returns
    * subtracted) DECLINED more than 10% year over year (item grain; brand grain is 5 stationary rows on this schema) — every channel
    * nets its returns on the order key, the union collapses to item
    * grain in ONE pass (per-year conditional sums — r17 folded the
    * former year self-join, which evaluated the 6-fact-scan union
    * twice), and the decline cut is curr·10 < prev·9 in exact
    * integers.
    */
  def q75(s: SparkSession, dir: String): DataFrame = {
    val n = G.nSales(s, dir)
    val dd = broadcast(G.dateDim(s).where(col("d_year").isin(1999, 2000)))
    val it = broadcast(G.item(s).where(col("i_category_id") === 4))
    def net(sales: DataFrame, dateK: String, itemK: String, qty: String,
        orderK: String, rets: DataFrame, retOrder: String, retItem: String,
        retQty: String): DataFrame =
      sales
        .join(rets.select(col(retOrder), col(retItem), col(retQty)),
          col(orderK) === col(retOrder) && col(itemK) === col(retItem), "left")
        .join(dd, col(dateK) === col("d_date_sk"))
        .join(it, col(itemK) === col("i_item_sk"))
        .select(col("d_year"), col("i_brand_id"), col("i_item_sk").as("item"),
          (col(qty) - coalesce(col(retQty), lit(0L))).as("net_qty"))
    val legs = Seq(
      net(G.storeSales(s, n), "ss_sold_date_sk", "ss_item_sk", "ss_quantity",
        "ss_ticket_number", G.storeReturns(s, n), "sr_ticket_number", "sr_item_sk",
        "sr_return_quantity"),
      net(G.catalogSales(s, n), "cs_sold_date_sk", "cs_item_sk", "cs_quantity",
        "cs_order_number", G.catalogReturns(s, n), "cr_order_number", "cr_item_sk",
        "cr_return_quantity"),
      net(G.webSales(s, n), "ws_sold_date_sk", "ws_item_sk", "ws_quantity",
        "ws_order_number", G.webReturns(s, n), "wr_order_number", "wr_item_sk",
        "wr_return_quantity"))
    // YoY pivot folded into ONE pass (r17 — the q2/q14 treatment,
    // guide §2.4/§1.2): the r16 plan evaluated the whole 6-fact-scan
    // union TWICE (Catalyst does not share the two-consumer byYear
    // aggregate between the prev/curr branches) and sort-merge-joined
    // the copies. One item-grain aggregate with per-year conditional
    // sums replaces the self-join: i_brand_id is functionally
    // dependent on item (a dim attribute), a conditional sum is NULL
    // exactly when the year had no rows (the inner join's presence
    // semantics — prev_cnt > 0 subsumes the 1999 side, the explicit
    // isNotNull reproduces the 2000 side), so the fold emits exactly
    // the joined rows.
    val byItem = legs.reduce(_ unionAll _)
      .groupBy(col("item"))
      .agg(max(col("i_brand_id")).as("i_brand_id"),
        sum(when(col("d_year") === 1999, col("net_qty"))).as("prev_cnt"),
        sum(when(col("d_year") === 2000, col("net_qty"))).as("curr_cnt"))
    byItem
      .where(col("curr_cnt").isNotNull &&
        col("prev_cnt") > 0 && col("curr_cnt") * 10 < col("prev_cnt") * 9)
      .select(col("i_brand_id"), col("item"),
        col("prev_cnt"), col("curr_cnt"),
        (col("curr_cnt") - col("prev_cnt")).as("sales_cnt_diff"))
  }

  /** TPC-DS q14-shape: brands of items that sold on ALL three
    * channels in 2000 (item-key INTERSECT), reported as each
    * channel's December revenue over those cross items — the
    * published iceberg threshold is dropped (documented), the
    * intersect feeds a broadcast semi-filter onto the channel union.
    */
  def q14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = G.nSales(s, dir)
    val dd = broadcast(G.dateDim(s).where(col("d_year") === 2000)
      .select(col("d_date_sk"), col("d_moy")))
    // ONE scan per channel (was two: the per-channel year-2000
    // DISTINCT item sets for the INTERSECT, then the December union
    // again — 6 fact scans + 2 intersect shuffles; r16 measured
    // 2.4 s): fold presence AND December revenue into one
    // (item, channel) aggregate over the year-2000 join — a row's
    // existence IS the channel-presence bit the intersect computed —
    // then keep items whose channel count is 3 via one window over
    // the item-bounded aggregate. dec_n > 0 drops the (item, channel)
    // groups the December join used to drop.
    val union = G.storeSales(s, n)
      .select(lit("store").as("channel"), col("ss_item_sk").as("item"),
        col("ss_sold_date_sk").as("sold_sk"), col("ss_ext_sales_price_c").as("p"))
      .unionAll(G.catalogSales(s, n)
        .select(lit("catalog"), col("cs_item_sk"), col("cs_sold_date_sk"),
          col("cs_ext_sales_price_c")))
      .unionAll(G.webSales(s, n)
        .select(lit("web"), col("ws_item_sk"), col("ws_sold_date_sk"),
          col("ws_ext_sales_price_c")))
    val perItemCh = union
      .join(dd, col("sold_sk") === col("d_date_sk"))
      .groupBy(col("item"), col("channel"))
      .agg(sum(when(col("d_moy") === 12, col("p")).otherwise(0L)).as("dec_p"),
        sum(when(col("d_moy") === 12, 1L).otherwise(0L)).as("dec_n"))
    perItemCh
      .withColumn("nch", count(lit(1)).over(Window.partitionBy(col("item"))))
      .where(col("nch") === 3 && col("dec_n") > 0)
      .join(broadcast(G.item(s)), col("item") === col("i_item_sk"))
      .groupBy(col("channel"), col("i_brand_id"))
      .agg(sum(col("dec_p")).as("sales_c"), sum(col("dec_n")).as("number_sales"))
  }

  /** TPC-DS q82: items in a price band with 100–500 units on hand in
    * a 60-day window that actually sold in stores. Both EXISTS sides
    * collapse to distinct item keys before the semi joins, so each
    * broadcast carries at most |items| keys; the text's plan
    * broadcasts one store_sales key per fact row.
    */
  def q82(s: SparkSession, dir: String): DataFrame = {
    val invItems = G.inventory(s)
      .where(col("inv_date_sk").between(400, 460) &&
        col("inv_quantity_on_hand").between(100, 500))
      .select(col("inv_item_sk")).distinct()
    val soldItems = G.storeSales(s, G.nSales(s, dir))
      .select(col("ss_item_sk")).distinct()
    G.item(s).where(col("i_current_price_c").between(5000, 8000))
      .join(invItems, col("i_item_sk") === col("inv_item_sk"), "left_semi")
      .join(soldItems, col("i_item_sk") === col("ss_item_sk"), "left_semi")
      .select(col("i_item_sk"), col("i_current_price_c"))
  }

  /** TPC-DS q23: catalog+web revenue from BEST customers buying
    * FREQUENT items in one month. Both thresholds decorrelate to
    * one-row (sum, count) scalars broadcast back, and both cuts are
    * cross-multiplied exact integers (count·2·C > 3·S for 1.5× the
    * mean item frequency, spend·10·C > 11·S for 1.1× the mean
    * customer spend); the measured month's facts cross the pipeline
    * once through two key-set semi joins into a single-row aggregate.
    */
  /** Above this store_sales row count the two-consumer threshold
    * aggregates in [[q23]] materialize once (localCheckpoint) instead
    * of re-deriving their fact subtree per consumer. r16 A/B measured
    * the materialization FLAT at sf0.1 (0.6M rows — the duplicate
    * scan+aggregate is page-cache-cheap), so the gate stays lazy
    * there; at x16 probe volume (9.6M) and beyond, the duplicate fact
    * pass is real I/O while the materialized frames are dim-bounded
    * (≤ |items| / ≤ |customers| rows) — the classic §5 "cache only
    * when recomputing costs more" trade, decided by the input size
    * the query already reads for its generators.
    */
  val Q23MatRows = 5000000L

  def q23(s: SparkSession, dir: String): DataFrame = {
    val n = G.nSales(s, dir)
    // size-gated subtree dedup (r17; closes the r16 deferral note);
    // `spark.graft.q23.matRows` overrides the gate (probe A/Bs flip
    // it; production tunes it to its own I/O-vs-memory point)
    val matRows = s.conf.getOption("spark.graft.q23.matRows")
      .map(_.toLong).getOrElse(Q23MatRows)
    def shared(df: DataFrame): DataFrame =
      if (n >= matRows) df.localCheckpoint(true) else df
    val dd98_00 = broadcast(G.dateDim(s).where(col("d_year") <= 2000)
      .select(col("d_date_sk"), col("d_moy")))
    // frequent: December item counts over 1998–2000, >1.5x the mean
    val decCounts = shared(G.storeSales(s, n)
      .join(dd98_00, col("ss_sold_date_sk") === col("d_date_sk"))
      .where(col("d_moy") === 12)
      .groupBy(col("ss_item_sk").as("fi_item"))
      .agg(count(lit(1)).as("icnt")))
    val iStats = decCounts.agg(sum(col("icnt")).as("i_sum"), count(lit(1)).as("i_cnt"))
    val frequent = decCounts.crossJoin(broadcast(iStats))
      .where(col("icnt") * 2 * col("i_cnt") > col("i_sum") * 3)
      .select(col("fi_item"))
    // best: store spend over 1998–2000, >1.1x the mean
    val spend = shared(G.storeSales(s, n)
      .join(dd98_00.select(col("d_date_sk").as("sd_sk")),
        col("ss_sold_date_sk") === col("sd_sk"))
      .groupBy(col("ss_customer_sk").as("bc_cust"))
      .agg(sum(col("ss_ext_sales_price_c")).as("cspend")))
    val cStats = spend.agg(sum(col("cspend")).as("c_sum"), count(lit(1)).as("c_cnt"))
    val best = spend.crossJoin(broadcast(cStats))
      .where(col("cspend") * 10 * col("c_cnt") > col("c_sum") * 11)
      .select(col("bc_cust"))
    val dm = broadcast(G.dateDim(s).where(col("d_year") === 2000 && col("d_moy") === 1)
      .select(col("d_date_sk").as("m_sk")))
    val measured = G.catalogSales(s, n)
      .join(dm, col("cs_sold_date_sk") === col("m_sk"))
      .select(col("cs_item_sk").as("item"), col("cs_customer_sk").as("cust"),
        col("cs_ext_sales_price_c").as("p"))
      .unionAll(G.webSales(s, n)
        .join(dm, col("ws_sold_date_sk") === col("m_sk"))
        .select(col("ws_item_sk"), col("ws_bill_customer_sk"),
          col("ws_ext_sales_price_c")))
    measured
      .join(frequent, col("item") === col("fi_item"), "left_semi")
      .join(best, col("cust") === col("bc_cust"), "left_semi")
      .agg(sum(col("p")).as("total_sales_c"), count(lit(1)).as("n_rows"))
  }

  /** Register every generated table as a temp view so the TPC-DS SQL
    * TEXT runs verbatim through the SQL front door — the views are
    * the same closed-form projections the DataFrame bodies read, so
    * a text plans the same broadcast dims and fact scans as a
    * DataFrame spelling of the same query. Registration replaces session-global
    * temp views and assumes one query runs at a time on the session
    * (the driver and Bench both run queries sequentially); the
    * regenerated views are identical on every call, so a re-run is
    * idempotent, but a CONCURRENT query on the same session could
    * observe a mid-replacement view. Registration is cached per
    * (session, dir) — the 99-query text battery calls this once per
    * pass, and the 18 catalog writes + plan derivations are pure
    * overhead after the first (weak keys: sessions are not retained).
    */
  private val registeredViews = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def registerViews(s: SparkSession, dir: String): Unit = {
    if (dir == registeredViews.get(s)) return
    registerViewsAlways(s, dir)
    registeredViews.put(s, dir)
  }

  private def registerViewsAlways(s: SparkSession, dir: String): Unit = {
    val n = G.nSales(s, dir)
    G.storeSales(s, n).createOrReplaceTempView("store_sales")
    G.storeReturns(s, n).createOrReplaceTempView("store_returns")
    G.catalogSales(s, n).createOrReplaceTempView("catalog_sales")
    G.catalogReturns(s, n).createOrReplaceTempView("catalog_returns")
    G.webSales(s, n).createOrReplaceTempView("web_sales")
    G.webReturns(s, n).createOrReplaceTempView("web_returns")
    G.inventory(s).createOrReplaceTempView("inventory")
    G.dateDim(s).createOrReplaceTempView("date_dim")
    G.item(s).createOrReplaceTempView("item")
    G.customer(s).createOrReplaceTempView("customer_dim")
    G.customerAddress(s).createOrReplaceTempView("customer_address")
    G.incomeBand(s).createOrReplaceTempView("income_band")
    G.reason(s).createOrReplaceTempView("reason")
    G.store(s).createOrReplaceTempView("store")
    G.promotion(s).createOrReplaceTempView("promotion")
    G.householdDemographics(s).createOrReplaceTempView("household_demographics")
    G.timeDim(s).createOrReplaceTempView("time_dim")
    G.warehouse(s).createOrReplaceTempView("warehouse")
    G.shipMode(s).createOrReplaceTempView("ship_mode")
    G.callCenter(s).createOrReplaceTempView("call_center")
    G.webSite(s).createOrReplaceTempView("web_site")
    G.customerDemographics(s).createOrReplaceTempView("customer_demographics")
    G.webPage(s).createOrReplaceTempView("web_page")
    G.catalogPage(s).createOrReplaceTempView("catalog_page")
  }


  /** Shared per-channel (item, rev) CTE text for the q33/q56/q60
    * family's oracles. */
  private def channelRevCte(dateCond: String): String =
    s""", chan AS (
       |  SELECT ss_item_sk AS item_sk, sum(ss_ext_sales_price_c)::BIGINT AS rev
       |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
       |  WHERE $dateCond GROUP BY 1
       |  UNION ALL
       |  SELECT cs_item_sk, sum(cs_ext_sales_price_c)::BIGINT
       |  FROM catalog_sales JOIN date_dim ON cs_sold_date_sk = d_date_sk
       |  WHERE $dateCond GROUP BY 1
       |  UNION ALL
       |  SELECT ws_item_sk, sum(ws_ext_sales_price_c)::BIGINT
       |  FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
       |  WHERE $dateCond GROUP BY 1)
       |""".stripMargin

  /** Shared distinct-customer-set CTE text for q38/q87. */
  private def custSetCte(year: Int): String =
    s""", dd AS (SELECT d_date_sk FROM date_dim WHERE d_year = $year),
       |st AS (SELECT DISTINCT ss_customer_sk AS c_sk FROM store_sales
       |       JOIN dd ON ss_sold_date_sk = d_date_sk),
       |ct AS (SELECT DISTINCT cs_customer_sk AS c_sk FROM catalog_sales
       |       JOIN dd ON cs_sold_date_sk = d_date_sk),
       |wb AS (SELECT DISTINCT ws_bill_customer_sk AS c_sk FROM web_sales
       |       JOIN dd ON ws_sold_date_sk = d_date_sk)
       |""".stripMargin

  private def shareWithinClassSql(fact: String, dateK: String, itemK: String,
      ext: String, cats: String): String =
    s""", agg AS (
       |  SELECT i_item_sk, i_class, sum($ext)::BIGINT AS itemrevenue
       |  FROM $fact
       |  JOIN date_dim ON $dateK = d_date_sk
       |  JOIN item ON $itemK = i_item_sk
       |  WHERE d_year = 1999 AND d_moy = 2 AND i_category_id IN ($cats)
       |  GROUP BY 1, 2)
       |SELECT i_item_sk, i_class, itemrevenue,
       |  (itemrevenue * 1000000 // sum(itemrevenue) OVER (PARTITION BY i_class))::BIGINT
       |    AS revenueratio_ppm
       |FROM agg""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_tpcdsgen_q11" -> (G.oracleGenSql +
      """, ssy AS (
        |  SELECT ss_customer_sk AS cust,
        |    sum(CASE WHEN d_year = 2000 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss1,
        |    sum(CASE WHEN d_year = 2001 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss2
        |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE d_year IN (2000, 2001) GROUP BY 1),
        |wsy AS (
        |  SELECT ws_bill_customer_sk AS cust,
        |    sum(CASE WHEN d_year = 2000 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws1,
        |    sum(CASE WHEN d_year = 2001 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws2
        |  FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE d_year IN (2000, 2001) GROUP BY 1)
        |SELECT ssy.cust, ss1, ss2, ws1, ws2
        |FROM ssy JOIN wsy ON ssy.cust = wsy.cust
        |WHERE ss1 > 0 AND ws1 > 0 AND ws2 * ss1 > ss2 * ws1""".stripMargin),
    "q_tpcdsgen_q56" -> (G.oracleGenSql + channelRevCte("d_year = 2001 AND d_moy = 2") +
      """SELECT i_item_sk AS item, sum(rev)::BIGINT AS total_sales_c
        |FROM chan JOIN item ON item_sk = i_item_sk
        |WHERE i_class_id IN (3, 11, 19)
        |GROUP BY i_item_sk""".stripMargin),
    "q_tpcdsgen_q89" -> (G.oracleGenSql +
      """, m AS (
        |  SELECT i_category_id, i_brand_id, ss_store_sk, d_moy,
        |    sum(ss_ext_sales_price_c)::BIGINT AS sum_sales
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 1999
        |  GROUP BY 1, 2, 3, 4)
        |SELECT i_category_id, i_brand_id, ss_store_sk, d_moy, sum_sales, yearly_sum
        |FROM (SELECT *,
        |        sum(sum_sales) OVER (PARTITION BY i_category_id, i_brand_id,
        |          ss_store_sk)::BIGINT AS yearly_sum,
        |        count(*) OVER (PARTITION BY i_category_id, i_brand_id, ss_store_sk)
        |          AS n_months
        |      FROM m)
        |WHERE abs(sum_sales * n_months - yearly_sum) * 10 > yearly_sum""".stripMargin),
    "q_tpcdsgen_q23" -> (G.oracleGenSql +
      """, dec_counts AS (
        |  SELECT ss_item_sk AS fi_item, count(*) AS icnt
        |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE d_year <= 2000 AND d_moy = 12 GROUP BY 1),
        |i_stats AS (SELECT sum(icnt)::BIGINT AS i_sum, count(*) AS i_cnt FROM dec_counts),
        |frequent AS (
        |  SELECT fi_item FROM dec_counts, i_stats
        |  WHERE icnt * 2 * i_cnt > i_sum * 3),
        |spend AS (
        |  SELECT ss_customer_sk AS bc_cust, sum(ss_ext_sales_price_c)::BIGINT AS cspend
        |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE d_year <= 2000 GROUP BY 1),
        |c_stats AS (SELECT sum(cspend)::BIGINT AS c_sum, count(*) AS c_cnt FROM spend),
        |best AS (
        |  SELECT bc_cust FROM spend, c_stats
        |  WHERE cspend * 10 * c_cnt > c_sum * 11),
        |dm AS (SELECT d_date_sk FROM date_dim WHERE d_year = 2000 AND d_moy = 1),
        |measured AS (
        |  SELECT cs_item_sk AS item, cs_customer_sk AS cust,
        |    cs_ext_sales_price_c AS p
        |  FROM catalog_sales JOIN dm ON cs_sold_date_sk = d_date_sk
        |  UNION ALL
        |  SELECT ws_item_sk, ws_bill_customer_sk, ws_ext_sales_price_c
        |  FROM web_sales JOIN dm ON ws_sold_date_sk = d_date_sk)
        |SELECT sum(p)::BIGINT AS total_sales_c, count(*) AS n_rows
        |FROM measured
        |WHERE EXISTS (SELECT 1 FROM frequent WHERE fi_item = item)
        |  AND EXISTS (SELECT 1 FROM best WHERE bc_cust = cust)""".stripMargin),
    "q_tpcdsgen_q54" -> (G.oracleGenSql +
      """, first_buy AS (
        |  SELECT cust, min(sold_sk) AS first_sk FROM (
        |    SELECT cs_item_sk AS item_k, cs_customer_sk AS cust,
        |      cs_sold_date_sk AS sold_sk FROM catalog_sales
        |    UNION ALL
        |    SELECT ws_item_sk, ws_bill_customer_sk, ws_sold_date_sk FROM web_sales)
        |  WHERE EXISTS (SELECT 1 FROM item
        |                WHERE i_item_sk = item_k AND i_category_id = 3)
        |  GROUP BY 1),
        |cohort AS (SELECT cust FROM first_buy WHERE first_sk BETWEEN 63 AND 93),
        |q2 AS (SELECT d_date_sk FROM date_dim
        |       WHERE d_year = 1998 AND d_moy BETWEEN 4 AND 6),
        |rev AS (
        |  SELECT ss_customer_sk, sum(ss_ext_sales_price_c)::BIGINT AS revenue_c
        |  FROM store_sales
        |  JOIN q2 ON ss_sold_date_sk = d_date_sk
        |  WHERE EXISTS (SELECT 1 FROM cohort WHERE cust = ss_customer_sk)
        |  GROUP BY 1)
        |SELECT revenue_c // 500000 AS segment, count(*) AS num_customers
        |FROM rev GROUP BY 1""".stripMargin),
    "q_tpcdsgen_q19" -> (G.oracleGenSql +
      """SELECT i_brand_id, i_brand, i_manufact_id,
        |  sum(ss_ext_sales_price_c)::BIGINT AS ext_price
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN item ON ss_item_sk = i_item_sk
        |JOIN customer ON ss_customer_sk = c_customer_sk
        |WHERE d_year = 1999 AND d_moy = 11
        |  AND i_manufact_id BETWEEN 30 AND 60
        |  AND c_customer_sk * 29 % 100 >= 50
        |GROUP BY i_brand_id, i_brand, i_manufact_id""".stripMargin),
    "q_tpcdsgen_q13" -> (G.oracleGenSql +
      """SELECT count(*) AS n,
        |  sum(ss_quantity)::DOUBLE / count(*) AS avg_quantity,
        |  sum(ss_sales_price_c)::DOUBLE / count(*) AS avg_sales_price,
        |  sum(ss_ext_sales_price_c)::BIGINT AS total_ext_c
        |FROM store_sales
        |JOIN customer ON ss_customer_sk = c_customer_sk
        |JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
        |WHERE (hd_dep_count = 3 AND ss_sales_price_c BETWEEN 7000 AND 9900
        |       AND c_birth_year BETWEEN 1940 AND 1959)
        |   OR (hd_dep_count = 1 AND ss_sales_price_c BETWEEN 4000 AND 7000
        |       AND c_birth_year BETWEEN 1960 AND 1979)
        |   OR (hd_dep_count = 0 AND ss_sales_price_c BETWEEN 100 AND 4000
        |       AND c_birth_year BETWEEN 1980 AND 1999)""".stripMargin),
    "q_tpcdsgen_q27" -> (G.oracleGenSql +
      """SELECT s_state, ss_item_sk, count(*) AS n,
        |  sum(ss_quantity)::DOUBLE / count(*) AS agg1,
        |  sum(ss_list_price_c)::DOUBLE / count(*) AS agg2,
        |  sum(ss_sales_price_c)::DOUBLE / count(*) AS agg3
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN customer ON ss_customer_sk = c_customer_sk
        |JOIN store ON ss_store_sk = s_store_sk
        |WHERE d_year = 1998 AND c_birth_year BETWEEN 1940 AND 1969
        |GROUP BY ROLLUP (s_state, ss_item_sk)""".stripMargin),
    "q_tpcdsgen_q30" -> (G.oracleGenSql +
      """, ctr AS (
        |  SELECT wr_refunded_customer_sk AS ctr_customer_sk, c_zip,
        |    sum(wr_return_amt_c)::BIGINT AS ctr_total_return
        |  FROM web_returns
        |  JOIN customer ON wr_refunded_customer_sk = c_customer_sk
        |  GROUP BY 1, 2),
        |per_zip AS (
        |  SELECT c_zip AS z, sum(ctr_total_return)::BIGINT AS z_sum,
        |    count(*) AS z_cnt
        |  FROM ctr GROUP BY 1)
        |SELECT ctr_customer_sk, c_zip, ctr_total_return
        |FROM ctr JOIN per_zip ON c_zip = z
        |WHERE ctr_total_return * z_cnt * 5 > z_sum * 6""".stripMargin),
    "q_tpcdsgen_q53" -> (G.oracleGenSql +
      """, m AS (
        |  SELECT i_manufact_id, d_qoy, sum(ss_ext_sales_price_c)::BIGINT AS sum_sales
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 2000
        |  GROUP BY 1, 2)
        |SELECT i_manufact_id, d_qoy, sum_sales, yearly_sum
        |FROM (SELECT *,
        |        sum(sum_sales) OVER (PARTITION BY i_manufact_id)::BIGINT AS yearly_sum,
        |        count(*) OVER (PARTITION BY i_manufact_id) AS n_q
        |      FROM m)
        |WHERE abs(sum_sales * n_q - yearly_sum) * 10 > yearly_sum""".stripMargin),
    "q_tpcdsgen_q57" -> (G.oracleGenSql +
      """, m AS (
        |  SELECT cs_call_center_sk, i_brand_id, d_moy,
        |    sum(cs_ext_sales_price_c)::BIGINT AS sum_sales
        |  FROM catalog_sales
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  JOIN item ON cs_item_sk = i_item_sk
        |  WHERE d_year = 1999
        |  GROUP BY 1, 2, 3)
        |SELECT cs_call_center_sk, i_brand_id, d_moy, sum_sales, psum, nsum
        |FROM (SELECT *,
        |        sum(sum_sales) OVER (PARTITION BY cs_call_center_sk, i_brand_id)::BIGINT
        |          AS yearly_sum,
        |        count(*) OVER (PARTITION BY cs_call_center_sk, i_brand_id) AS n_months,
        |        lag(sum_sales) OVER (PARTITION BY cs_call_center_sk, i_brand_id
        |          ORDER BY d_moy) AS psum,
        |        lead(sum_sales) OVER (PARTITION BY cs_call_center_sk, i_brand_id
        |          ORDER BY d_moy) AS nsum
        |      FROM m)
        |WHERE psum IS NOT NULL AND nsum IS NOT NULL
        |  AND abs(sum_sales * n_months - yearly_sum) * 10 > yearly_sum""".stripMargin),
    "q_tpcdsgen_q70" -> (G.oracleGenSql +
      """, agg AS (
        |  SELECT s_state, s_store_sk,
        |    grouping(s_state) + grouping(s_store_sk) AS lochierarchy,
        |    sum(ss_net_profit_c)::BIGINT AS total_sum
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN store ON ss_store_sk = s_store_sk
        |  WHERE d_year = 1999
        |  GROUP BY ROLLUP (s_state, s_store_sk))
        |SELECT s_state, s_store_sk, lochierarchy, total_sum,
        |  rank() OVER (PARTITION BY lochierarchy,
        |      CASE WHEN lochierarchy = 0 THEN s_state END
        |    ORDER BY total_sum DESC) AS rank_within_parent
        |FROM agg""".stripMargin),
    "q_tpcdsgen_q86" -> (G.oracleGenSql +
      """, agg AS (
        |  SELECT i_category, i_class,
        |    grouping(i_category) + grouping(i_class) AS lochierarchy,
        |    sum(ws_net_profit_c)::BIGINT AS total_sum
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  JOIN item ON ws_item_sk = i_item_sk
        |  WHERE d_year = 2001
        |  GROUP BY ROLLUP (i_category, i_class))
        |SELECT i_category, i_class, lochierarchy, total_sum,
        |  rank() OVER (PARTITION BY lochierarchy,
        |      CASE WHEN lochierarchy = 0 THEN i_category END
        |    ORDER BY total_sum DESC) AS rank_within_parent
        |FROM agg""".stripMargin),
    "q_tpcdsgen_q77" -> (G.oracleGenSql +
      """, ss_a AS (
        |  SELECT ss_store_sk AS unit_sk, sum(ss_ext_sales_price_c)::BIGINT AS sales_c,
        |    sum(ss_net_profit_c)::BIGINT AS profit_c
        |  FROM store_sales GROUP BY 1),
        |sr_a AS (
        |  SELECT sr_store_sk AS r_unit, sum(sr_return_amt_c)::BIGINT AS returns_c
        |  FROM store_returns GROUP BY 1),
        |cs_a AS (
        |  SELECT cs_call_center_sk AS unit_sk, sum(cs_ext_sales_price_c)::BIGINT AS sales_c,
        |    sum(cs_net_profit_c)::BIGINT AS profit_c
        |  FROM catalog_sales GROUP BY 1),
        |cr_t AS (SELECT sum(cr_return_amt_c)::BIGINT AS returns_c FROM catalog_returns),
        |ws_a AS (
        |  SELECT ws_web_site_sk AS unit_sk, sum(ws_ext_sales_price_c)::BIGINT AS sales_c,
        |    sum(ws_net_profit_c)::BIGINT AS profit_c
        |  FROM web_sales GROUP BY 1),
        |wr_a AS (
        |  SELECT ws_web_site_sk AS r_unit, sum(wr_return_amt_c)::BIGINT AS returns_c
        |  FROM web_returns JOIN web_sales ON wr_order_number = ws_order_number
        |  GROUP BY 1),
        |legs AS (
        |  SELECT 'store channel' AS channel, coalesce(unit_sk, r_unit) AS unit_sk,
        |    coalesce(sales_c, 0) AS sales_c, coalesce(returns_c, 0) AS returns_c,
        |    coalesce(profit_c, 0) - coalesce(returns_c, 0) AS profit_c
        |  FROM ss_a FULL OUTER JOIN sr_a ON unit_sk = r_unit
        |  UNION ALL
        |  SELECT 'catalog channel', unit_sk, sales_c, returns_c, profit_c - returns_c
        |  FROM cs_a CROSS JOIN cr_t
        |  UNION ALL
        |  SELECT 'web channel', coalesce(unit_sk, r_unit),
        |    coalesce(sales_c, 0), coalesce(returns_c, 0),
        |    coalesce(profit_c, 0) - coalesce(returns_c, 0)
        |  FROM ws_a FULL OUTER JOIN wr_a ON unit_sk = r_unit)
        |SELECT channel, unit_sk, sum(sales_c)::BIGINT AS sales_c,
        |  sum(returns_c)::BIGINT AS returns_c, sum(profit_c)::BIGINT AS profit_c
        |FROM legs GROUP BY ROLLUP (channel, unit_sk)""".stripMargin),
    "q_tpcdsgen_q80" -> (G.oracleGenSql +
      """, dd AS (SELECT d_date_sk FROM date_dim WHERE d_year = 2000 AND d_moy = 10),
        |np AS (SELECT p_promo_sk FROM promotion WHERE p_channel_event = 'N'),
        |legs AS (
        |  SELECT 'store channel' AS channel, ss_store_sk AS unit_sk,
        |    ss_ext_sales_price_c AS sales_c,
        |    coalesce(sr_return_amt_c, 0) AS returns_c,
        |    ss_net_profit_c - coalesce(sr_return_amt_c, 0) AS profit_c
        |  FROM store_sales
        |  JOIN dd ON ss_sold_date_sk = d_date_sk
        |  JOIN np ON ss_promo_sk = p_promo_sk
        |  LEFT JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  UNION ALL
        |  SELECT 'catalog channel', cs_call_center_sk, cs_ext_sales_price_c,
        |    coalesce(cr_return_amt_c, 0),
        |    cs_net_profit_c - coalesce(cr_return_amt_c, 0)
        |  FROM catalog_sales
        |  JOIN dd ON cs_sold_date_sk = d_date_sk
        |  JOIN np ON cs_promo_sk = p_promo_sk
        |  LEFT JOIN catalog_returns ON cs_order_number = cr_order_number
        |  UNION ALL
        |  SELECT 'web channel', ws_web_site_sk, ws_ext_sales_price_c,
        |    coalesce(wr_return_amt_c, 0),
        |    ws_net_profit_c - coalesce(wr_return_amt_c, 0)
        |  FROM web_sales
        |  JOIN dd ON ws_sold_date_sk = d_date_sk
        |  LEFT JOIN web_returns ON ws_order_number = wr_order_number)
        |SELECT channel, unit_sk, sum(sales_c)::BIGINT AS sales_c,
        |  sum(returns_c)::BIGINT AS returns_c, sum(profit_c)::BIGINT AS profit_c
        |FROM legs GROUP BY ROLLUP (channel, unit_sk)""".stripMargin),
    "q_tpcdsgen_q67" -> (G.oracleGenSql +
      """, agg AS (
        |  SELECT i_category, i_class, i_brand,
        |    sum(ss_ext_sales_price_c)::BIGINT AS sumsales
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 2000
        |  GROUP BY ROLLUP (i_category, i_class, i_brand))
        |SELECT i_category, i_class, i_brand, sumsales, rk
        |FROM (SELECT *, rank() OVER (PARTITION BY i_category
        |        ORDER BY sumsales DESC) AS rk FROM agg)
        |WHERE rk <= 5""".stripMargin),
    "q_tpcdsgen_q35" -> (G.oracleGenSql + custSetCte(2000) +
      """SELECT (c_birth_year // 10) * 10 AS birth_decade, count(*) AS cnt
        |FROM st
        |JOIN customer ON c_sk = c_customer_sk
        |WHERE EXISTS (SELECT 1 FROM ct WHERE ct.c_sk = st.c_sk)
        |   OR EXISTS (SELECT 1 FROM wb WHERE wb.c_sk = st.c_sk)
        |GROUP BY 1""".stripMargin),
    "q_tpcdsgen_q95" -> (G.oracleGenSql +
      """, ws AS (
        |  SELECT ws_order_number, ws_web_site_sk, ws_ship_date_sk, ws_net_profit_c
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE d_year = 1999),
        |busy AS (
        |  SELECT ws_web_site_sk AS b_site, ws_ship_date_sk AS b_date
        |  FROM ws GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT count(*) AS order_count,
        |  sum(ws_net_profit_c)::BIGINT AS total_net_profit_c
        |FROM ws
        |WHERE EXISTS (SELECT 1 FROM busy
        |              WHERE b_site = ws_web_site_sk AND b_date = ws_ship_date_sk)
        |  AND NOT EXISTS (SELECT 1 FROM web_returns
        |                  WHERE wr_order_number = ws_order_number)""".stripMargin),
    "q_tpcdsgen_q41" -> (G.oracleGenSql +
      """SELECT i_item_sk, i_manufact_id
        |FROM item
        |WHERE i_category_id IN (1, 2, 3, 4) AND i_current_price_c <= 5000
        |  AND i_manufact_id IN (
        |    SELECT i_manufact_id FROM item
        |    WHERE i_category_id IN (1, 2, 3, 4) AND i_current_price_c <= 5000
        |    GROUP BY 1 HAVING count(*) >= 3)""".stripMargin),
    "q_tpcdsgen_q72" -> (G.oracleGenSql +
      """SELECT cs_item_sk, w_warehouse_name,
        |  sum(CASE WHEN p_channel_email = 'Y' OR p_channel_event = 'Y'
        |      THEN 1 ELSE 0 END)::BIGINT AS promo,
        |  count(*) AS total_cnt
        |FROM catalog_sales
        |JOIN promotion ON cs_promo_sk = p_promo_sk
        |JOIN inventory ON cs_item_sk = inv_item_sk
        |  AND cs_warehouse_sk = inv_warehouse_sk
        |  AND (inv_date_sk - 1) // 7 + 1 = (cs_sold_date_sk - 1) // 7 + 2
        |JOIN warehouse ON cs_warehouse_sk = w_warehouse_sk
        |WHERE inv_quantity_on_hand < cs_quantity
        |GROUP BY cs_item_sk, w_warehouse_name""".stripMargin),
    "q_tpcdsgen_q44" -> (G.oracleGenSql +
      """, by_item AS (
        |  SELECT ss_item_sk, sum(ss_net_profit_c)::BIGINT * 1000 // count(*)
        |    AS avg_profit_pm
        |  FROM store_sales GROUP BY 1),
        |best AS (
        |  SELECT row_number() OVER (ORDER BY avg_profit_pm DESC, ss_item_sk) AS rnk,
        |    ss_item_sk AS best_performing
        |  FROM by_item),
        |worst AS (
        |  SELECT row_number() OVER (ORDER BY avg_profit_pm ASC, ss_item_sk) AS rnk,
        |    ss_item_sk AS worst_performing
        |  FROM by_item)
        |SELECT best.rnk, best_performing, worst_performing
        |FROM best JOIN worst ON best.rnk = worst.rnk
        |WHERE best.rnk <= 10""".stripMargin),
    "q_tpcdsgen_q91" -> (G.oracleGenSql +
      """SELECT cc_name, d_moy, sum(cr_return_amt_c)::BIGINT AS returns_loss_c
        |FROM catalog_returns
        |JOIN catalog_sales ON cr_order_number = cs_order_number
        |JOIN call_center ON cs_call_center_sk = cc_call_center_sk
        |JOIN customer ON cr_customer_sk = c_customer_sk
        |JOIN date_dim ON cr_returned_date_sk = d_date_sk
        |WHERE c_birth_year < 1940 AND d_year = 2000
        |GROUP BY cc_name, d_moy""".stripMargin),
    "q_tpcdsgen_q81" -> (G.oracleGenSql +
      """, ctr AS (
        |  SELECT cr_customer_sk AS ctr_customer_sk, c_zip,
        |    sum(cr_return_amt_c)::BIGINT AS ctr_total_return
        |  FROM catalog_returns
        |  JOIN customer ON cr_customer_sk = c_customer_sk
        |  GROUP BY 1, 2),
        |per_zip AS (
        |  SELECT c_zip AS z, sum(ctr_total_return)::BIGINT AS z_sum,
        |    count(*) AS z_cnt
        |  FROM ctr GROUP BY 1)
        |SELECT ctr_customer_sk, c_zip, ctr_total_return
        |FROM ctr JOIN per_zip ON c_zip = z
        |WHERE ctr_total_return * z_cnt * 5 > z_sum * 6""".stripMargin),
    "q_tpcdsgen_q83" -> (G.oracleGenSql +
      """, dd AS (SELECT d_date_sk FROM date_dim WHERE d_year = 2000),
        |sr AS (SELECT sr_item_sk AS item, sum(sr_return_quantity)::BIGINT AS sr_qty
        |       FROM store_returns JOIN dd ON sr_returned_date_sk = d_date_sk GROUP BY 1),
        |cr AS (SELECT cr_item_sk AS item, sum(cr_return_quantity)::BIGINT AS cr_qty
        |       FROM catalog_returns JOIN dd ON cr_returned_date_sk = d_date_sk GROUP BY 1),
        |wr AS (SELECT wr_item_sk AS item, sum(wr_return_quantity)::BIGINT AS wr_qty
        |       FROM web_returns JOIN dd ON wr_returned_date_sk = d_date_sk GROUP BY 1)
        |SELECT sr.item, sr_qty, cr_qty, wr_qty,
        |  sr_qty * 1000000 // (sr_qty + cr_qty + wr_qty) AS sr_share_ppm,
        |  cr_qty * 1000000 // (sr_qty + cr_qty + wr_qty) AS cr_share_ppm,
        |  wr_qty * 1000000 // (sr_qty + cr_qty + wr_qty) AS wr_share_ppm
        |FROM sr JOIN cr ON sr.item = cr.item JOIN wr ON sr.item = wr.item""".stripMargin),
    "q_tpcdsgen_q9" -> (G.oracleGenSql +
      "SELECT\n" + (1 to 5).map { i =>
        val (lo, hi) = (Seq((1, 20), (21, 40), (41, 60), (61, 80), (81, 100)))(i - 1)
        s"""  CASE WHEN sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi THEN 1 ELSE 0 END) > 5000
           |    THEN sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi
           |             THEN ss_ext_sales_price_c END)::DOUBLE
           |      / sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi THEN 1 ELSE 0 END)
           |    ELSE sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi
           |             THEN ss_net_profit_c END)::DOUBLE
           |      / sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi THEN 1 ELSE 0 END)
           |  END AS bucket$i""".stripMargin
      }.mkString(",\n") + "\nFROM store_sales"),
    "q_tpcdsgen_q51" -> (G.oracleGenSql +
      """, web AS (
        |  SELECT ws_item_sk AS web_item, d_week_seq AS web_week,
        |    sum(sum(ws_ext_sales_price_c))
        |      OVER (PARTITION BY ws_item_sk ORDER BY d_week_seq
        |            ROWS UNBOUNDED PRECEDING)::BIGINT AS web_cume
        |  FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE d_year = 2000 GROUP BY 1, 2),
        |st AS (
        |  SELECT ss_item_sk AS st_item, d_week_seq AS st_week,
        |    sum(sum(ss_ext_sales_price_c))
        |      OVER (PARTITION BY ss_item_sk ORDER BY d_week_seq
        |            ROWS UNBOUNDED PRECEDING)::BIGINT AS st_cume
        |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE d_year = 2000 GROUP BY 1, 2),
        |joined AS (
        |  SELECT coalesce(web_item, st_item) AS item_sk,
        |    coalesce(web_week, st_week) AS d_week_seq, web_cume, st_cume
        |  FROM web FULL OUTER JOIN st
        |    ON web_item = st_item AND web_week = st_week)
        |SELECT item_sk, d_week_seq, store_cumulative, web_cumulative
        |FROM (
        |  SELECT item_sk, d_week_seq,
        |    max(web_cume) OVER (PARTITION BY item_sk ORDER BY d_week_seq
        |      ROWS UNBOUNDED PRECEDING) AS web_cumulative,
        |    max(st_cume) OVER (PARTITION BY item_sk ORDER BY d_week_seq
        |      ROWS UNBOUNDED PRECEDING) AS store_cumulative
        |  FROM joined)
        |WHERE web_cumulative > store_cumulative""".stripMargin),
    "q_tpcdsgen_q4" -> (G.oracleGenSql +
      """, ssy AS (
        |  SELECT ss_customer_sk AS cust,
        |    sum(CASE WHEN d_year = 1998 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss1,
        |    sum(CASE WHEN d_year = 1999 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss2
        |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE d_year IN (1998, 1999) GROUP BY 1),
        |csy AS (
        |  SELECT cs_customer_sk AS cust,
        |    sum(CASE WHEN d_year = 1998 THEN cs_ext_sales_price_c ELSE 0 END)::BIGINT AS cs1,
        |    sum(CASE WHEN d_year = 1999 THEN cs_ext_sales_price_c ELSE 0 END)::BIGINT AS cs2
        |  FROM catalog_sales JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE d_year IN (1998, 1999) GROUP BY 1),
        |wsy AS (
        |  SELECT ws_bill_customer_sk AS cust,
        |    sum(CASE WHEN d_year = 1998 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws1,
        |    sum(CASE WHEN d_year = 1999 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws2
        |  FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE d_year IN (1998, 1999) GROUP BY 1)
        |SELECT ssy.cust, ss1, ss2, cs1, cs2, ws1, ws2
        |FROM ssy JOIN csy ON ssy.cust = csy.cust JOIN wsy ON ssy.cust = wsy.cust
        |WHERE ss1 > 0 AND cs1 > 0 AND ws1 > 0
        |  AND cs2 * ss1 > ss2 * cs1 AND ws2 * ss1 > ss2 * ws1""".stripMargin),
    "q_tpcdsgen_q14" -> (G.oracleGenSql +
      """, dd AS (SELECT d_date_sk FROM date_dim WHERE d_year = 2000),
        |cross_items AS (
        |  SELECT DISTINCT ss_item_sk AS item_sk FROM store_sales
        |    JOIN dd ON ss_sold_date_sk = d_date_sk
        |  INTERSECT
        |  SELECT DISTINCT cs_item_sk FROM catalog_sales
        |    JOIN dd ON cs_sold_date_sk = d_date_sk
        |  INTERSECT
        |  SELECT DISTINCT ws_item_sk FROM web_sales
        |    JOIN dd ON ws_sold_date_sk = d_date_sk)
        |SELECT channel, i_brand_id, sum(p)::BIGINT AS sales_c,
        |  count(*) AS number_sales
        |FROM (
        |  SELECT 'store' AS channel, ss_item_sk AS item,
        |    ss_sold_date_sk AS sold_sk, ss_ext_sales_price_c AS p FROM store_sales
        |  UNION ALL
        |  SELECT 'catalog', cs_item_sk, cs_sold_date_sk, cs_ext_sales_price_c
        |  FROM catalog_sales
        |  UNION ALL
        |  SELECT 'web', ws_item_sk, ws_sold_date_sk, ws_ext_sales_price_c
        |  FROM web_sales)
        |JOIN date_dim ON sold_sk = d_date_sk
        |JOIN item ON item = i_item_sk
        |WHERE d_year = 2000 AND d_moy = 12
        |  AND EXISTS (SELECT 1 FROM cross_items WHERE item_sk = item)
        |GROUP BY channel, i_brand_id""".stripMargin),
    "q_tpcdsgen_q12" -> (G.oracleGenSql + shareWithinClassSql("web_sales",
      "ws_sold_date_sk", "ws_item_sk", "ws_ext_sales_price_c", "1, 4, 8")),
    "q_tpcdsgen_q20" -> (G.oracleGenSql + shareWithinClassSql("catalog_sales",
      "cs_sold_date_sk", "cs_item_sk", "cs_ext_sales_price_c", "2, 5, 9")),
    "q_tpcdsgen_q36" -> (G.oracleGenSql +
      """, agg AS (
        |  SELECT i_category, i_class,
        |    grouping(i_category) + grouping(i_class) AS lochierarchy,
        |    sum(ss_net_profit_c)::BIGINT * 1000000 //
        |      sum(ss_ext_sales_price_c)::BIGINT AS gross_margin_ppm
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 2001
        |  GROUP BY ROLLUP (i_category, i_class))
        |SELECT i_category, i_class, lochierarchy, gross_margin_ppm,
        |  rank() OVER (PARTITION BY lochierarchy,
        |      CASE WHEN lochierarchy = 0 THEN i_category END
        |    ORDER BY gross_margin_ppm ASC) AS rank_within_parent
        |FROM agg""".stripMargin),
    "q_tpcdsgen_q28" -> (G.oracleGenSql +
      "SELECT\n" + (1 to 6).map { i =>
        val (lo, hi) = (Seq((1, 5), (6, 10), (11, 15), (16, 20), (21, 25), (26, 30)))(i - 1)
        s"""  sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi THEN ss_list_price_c END)::DOUBLE
           |    / sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi THEN 1 ELSE 0 END) AS b${i}_lp,
           |  sum(CASE WHEN ss_quantity BETWEEN $lo AND $hi THEN 1 ELSE 0 END)::BIGINT AS b${i}_cnt,
           |  count(DISTINCT CASE WHEN ss_quantity BETWEEN $lo AND $hi
           |    THEN ss_list_price_c END) AS b${i}_cntd""".stripMargin
      }.mkString(",\n") + "\nFROM store_sales"),
    "q_tpcdsgen_q48" -> (G.oracleGenSql +
      """SELECT sum(ss_quantity)::BIGINT AS total_quantity
        |FROM store_sales
        |JOIN customer ON ss_customer_sk = c_customer_sk
        |WHERE (c_birth_year BETWEEN 1930 AND 1949
        |       AND ss_sales_price_c BETWEEN 5000 AND 10000)
        |   OR (c_birth_year BETWEEN 1950 AND 1969
        |       AND ss_sales_price_c BETWEEN 100 AND 5000)
        |   OR (c_birth_year BETWEEN 1970 AND 1989
        |       AND ss_sales_price_c BETWEEN 3000 AND 8000)""".stripMargin),
    "q_tpcdsgen_q47" -> (G.oracleGenSql +
      """, m AS (
        |  SELECT i_brand_id, d_moy, sum(ss_ext_sales_price_c)::BIGINT AS sum_sales
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 2000
        |  GROUP BY 1, 2)
        |SELECT i_brand_id, d_moy, sum_sales, psum, nsum
        |FROM (SELECT *,
        |        sum(sum_sales) OVER (PARTITION BY i_brand_id)::BIGINT AS yearly_sum,
        |        count(*) OVER (PARTITION BY i_brand_id) AS n_months,
        |        lag(sum_sales) OVER (PARTITION BY i_brand_id ORDER BY d_moy) AS psum,
        |        lead(sum_sales) OVER (PARTITION BY i_brand_id ORDER BY d_moy) AS nsum
        |      FROM m)
        |WHERE psum IS NOT NULL AND nsum IS NOT NULL
        |  AND abs(sum_sales * n_months - yearly_sum) * 10 > yearly_sum""".stripMargin),
    "q_tpcdsgen_q38" -> (G.oracleGenSql + custSetCte(2000) +
      """SELECT count(*) AS cnt FROM (
        |  SELECT c_sk FROM st INTERSECT SELECT c_sk FROM ct
        |  INTERSECT SELECT c_sk FROM wb)""".stripMargin),
    "q_tpcdsgen_q87" -> (G.oracleGenSql + custSetCte(2000) +
      """SELECT count(*) AS cnt FROM (
        |  SELECT c_sk FROM st EXCEPT SELECT c_sk FROM ct
        |  EXCEPT SELECT c_sk FROM wb)""".stripMargin),
    "q_tpcdsgen_q31" -> (G.oracleGenSql +
      """, ssq AS (
        |  SELECT c_zip AS zip,
        |    sum(CASE WHEN d_qoy = 1 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss1,
        |    sum(CASE WHEN d_qoy = 2 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss2,
        |    sum(CASE WHEN d_qoy = 3 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS ss3
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN customer ON ss_customer_sk = c_customer_sk
        |  WHERE d_year = 2000 AND d_qoy BETWEEN 1 AND 3
        |  GROUP BY 1),
        |wsq AS (
        |  SELECT c_zip AS zip,
        |    sum(CASE WHEN d_qoy = 1 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws1,
        |    sum(CASE WHEN d_qoy = 2 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws2,
        |    sum(CASE WHEN d_qoy = 3 THEN ws_ext_sales_price_c ELSE 0 END)::BIGINT AS ws3
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  JOIN customer ON ws_bill_customer_sk = c_customer_sk
        |  WHERE d_year = 2000 AND d_qoy BETWEEN 1 AND 3
        |  GROUP BY 1)
        |SELECT ssq.zip, ss1, ss2, ss3, ws1, ws2, ws3
        |FROM ssq JOIN wsq ON ssq.zip = wsq.zip
        |WHERE ss1 > 0 AND ss2 > 0 AND ws1 > 0 AND ws2 > 0
        |  AND ws2 * ss1 > ss2 * ws1 AND ws3 * ss2 > ss3 * ws2""".stripMargin),
    "q_tpcdsgen_q75" -> (G.oracleGenSql +
      """, nets AS (
        |  SELECT d_year, i_brand_id, i_item_sk AS item,
        |    ss_quantity - coalesce(sr_return_quantity, 0) AS net_qty
        |  FROM store_sales
        |  LEFT JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year IN (1999, 2000) AND i_category_id = 4
        |  UNION ALL
        |  SELECT d_year, i_brand_id, i_item_sk,
        |    cs_quantity - coalesce(cr_return_quantity, 0)
        |  FROM catalog_sales
        |  LEFT JOIN catalog_returns ON cs_order_number = cr_order_number
        |    AND cs_item_sk = cr_item_sk
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  JOIN item ON cs_item_sk = i_item_sk
        |  WHERE d_year IN (1999, 2000) AND i_category_id = 4
        |  UNION ALL
        |  SELECT d_year, i_brand_id, i_item_sk,
        |    ws_quantity - coalesce(wr_return_quantity, 0)
        |  FROM web_sales
        |  LEFT JOIN web_returns ON ws_order_number = wr_order_number
        |    AND ws_item_sk = wr_item_sk
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  JOIN item ON ws_item_sk = i_item_sk
        |  WHERE d_year IN (1999, 2000) AND i_category_id = 4),
        |by_year AS (
        |  SELECT d_year, i_brand_id, item, sum(net_qty)::BIGINT AS net_cnt
        |  FROM nets GROUP BY 1, 2, 3)
        |SELECT p.i_brand_id, p.item, p.net_cnt AS prev_cnt, c.net_cnt AS curr_cnt,
        |  c.net_cnt - p.net_cnt AS sales_cnt_diff
        |FROM by_year p
        |JOIN by_year c ON p.item = c.item
        |WHERE p.d_year = 1999 AND c.d_year = 2000
        |  AND p.net_cnt > 0 AND c.net_cnt * 10 < p.net_cnt * 9""".stripMargin),
    "q_tpcdsgen_q18" -> (G.oracleGenSql +
      """SELECT (c_birth_year // 10) * 10 AS birth_decade, c_zip, count(*) AS n,
        |  sum(cs_quantity)::DOUBLE / count(*) AS agg1,
        |  sum(cs_sales_price_c)::DOUBLE / count(*) AS agg2,
        |  sum(cs_ext_discount_amt_c)::DOUBLE / count(*) AS agg3
        |FROM catalog_sales
        |JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |JOIN customer ON cs_customer_sk = c_customer_sk
        |WHERE d_year = 1998
        |GROUP BY ROLLUP ((c_birth_year // 10) * 10, c_zip)""".stripMargin),
    "q_tpcdsgen_q49" -> (G.oracleGenSql +
      """, rates AS (
        |  SELECT 'store' AS channel, ss_item_sk AS item,
        |    sum(sr_return_quantity)::BIGINT * 1000000 // sum(ss_quantity)::BIGINT
        |      AS return_ratio_ppm
        |  FROM store_sales JOIN store_returns
        |    ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'catalog', cs_item_sk,
        |    sum(cr_return_quantity)::BIGINT * 1000000 // sum(cs_quantity)::BIGINT
        |  FROM catalog_sales JOIN catalog_returns
        |    ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'web', ws_item_sk,
        |    sum(wr_return_quantity)::BIGINT * 1000000 // sum(ws_quantity)::BIGINT
        |  FROM web_sales JOIN web_returns
        |    ON ws_order_number = wr_order_number AND ws_item_sk = wr_item_sk
        |  GROUP BY 2)
        |SELECT channel, item, return_ratio_ppm, rnk
        |FROM (SELECT *, rank() OVER (PARTITION BY channel
        |        ORDER BY return_ratio_ppm DESC) AS rnk
        |      FROM rates)
        |WHERE rnk <= 10""".stripMargin),
    "q_tpcdsgen_q63" -> (G.oracleGenSql +
      """, m AS (
        |  SELECT i_manager_id, d_moy, sum(ss_ext_sales_price_c)::BIGINT AS sum_sales
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 2000
        |  GROUP BY 1, 2)
        |SELECT i_manager_id, d_moy, sum_sales, yearly_sum
        |FROM (SELECT *,
        |        sum(sum_sales) OVER (PARTITION BY i_manager_id)::BIGINT AS yearly_sum,
        |        count(*) OVER (PARTITION BY i_manager_id) AS n_months
        |      FROM m)
        |WHERE abs(sum_sales * n_months - yearly_sum) * 10 > yearly_sum""".stripMargin),
    "q_tpcdsgen_q66" -> (G.oracleGenSql +
      """SELECT w_warehouse_name,
        |  sum(CASE WHEN d_moy = 1 THEN p ELSE 0 END)::BIGINT AS jan_sales,
        |  sum(CASE WHEN d_moy = 2 THEN p ELSE 0 END)::BIGINT AS feb_sales,
        |  sum(CASE WHEN d_moy = 3 THEN p ELSE 0 END)::BIGINT AS mar_sales,
        |  sum(CASE WHEN d_moy = 4 THEN p ELSE 0 END)::BIGINT AS apr_sales,
        |  sum(CASE WHEN d_moy = 5 THEN p ELSE 0 END)::BIGINT AS may_sales,
        |  sum(CASE WHEN d_moy = 6 THEN p ELSE 0 END)::BIGINT AS jun_sales,
        |  sum(CASE WHEN d_moy = 7 THEN p ELSE 0 END)::BIGINT AS jul_sales,
        |  sum(CASE WHEN d_moy = 8 THEN p ELSE 0 END)::BIGINT AS aug_sales,
        |  sum(CASE WHEN d_moy = 9 THEN p ELSE 0 END)::BIGINT AS sep_sales,
        |  sum(CASE WHEN d_moy = 10 THEN p ELSE 0 END)::BIGINT AS oct_sales,
        |  sum(CASE WHEN d_moy = 11 THEN p ELSE 0 END)::BIGINT AS nov_sales,
        |  sum(CASE WHEN d_moy = 12 THEN p ELSE 0 END)::BIGINT AS dec_sales
        |FROM (
        |  SELECT ws_warehouse_sk AS wh_sk, ws_ship_mode_sk AS sm_sk,
        |    ws_sold_date_sk AS sold_sk, ws_ext_sales_price_c AS p FROM web_sales
        |  UNION ALL
        |  SELECT cs_warehouse_sk, cs_ship_mode_sk, cs_sold_date_sk,
        |    cs_ext_sales_price_c FROM catalog_sales)
        |JOIN ship_mode ON sm_sk = sm_ship_mode_sk
        |JOIN date_dim ON sold_sk = d_date_sk
        |JOIN warehouse ON wh_sk = w_warehouse_sk
        |WHERE sm_carrier IN ('BARIAN', 'UPS') AND d_year = 2000
        |GROUP BY w_warehouse_name""".stripMargin),
    "q_tpcdsgen_q69" -> (G.oracleGenSql +
      """, dd AS (SELECT d_date_sk FROM date_dim WHERE d_year = 2000 AND d_qoy = 1),
        |st AS (SELECT DISTINCT ss_customer_sk FROM store_sales
        |       JOIN dd ON ss_sold_date_sk = d_date_sk),
        |wb AS (SELECT DISTINCT ws_bill_customer_sk FROM web_sales
        |       JOIN dd ON ws_sold_date_sk = d_date_sk),
        |ct AS (SELECT DISTINCT cs_customer_sk FROM catalog_sales
        |       JOIN dd ON cs_sold_date_sk = d_date_sk)
        |SELECT (c_birth_year // 10) * 10 AS birth_decade, count(*) AS cnt
        |FROM st
        |JOIN customer ON ss_customer_sk = c_customer_sk
        |WHERE NOT EXISTS (SELECT 1 FROM wb WHERE ws_bill_customer_sk = ss_customer_sk)
        |  AND NOT EXISTS (SELECT 1 FROM ct WHERE cs_customer_sk = ss_customer_sk)
        |GROUP BY 1""".stripMargin),
    "q_tpcdsgen_q22" -> (G.oracleGenSql +
      """SELECT i_category, i_brand,
        |  sum(inv_quantity_on_hand)::DOUBLE / count(*) AS qoh
        |FROM inventory
        |JOIN date_dim ON inv_date_sk = d_date_sk
        |JOIN item ON inv_item_sk = i_item_sk
        |WHERE d_year = 2001
        |GROUP BY ROLLUP (i_category, i_brand)""".stripMargin),
    "q_tpcdsgen_q29" -> (G.oracleGenSql +
      """, returned AS (
        |  SELECT ss_store_sk, ss_quantity, sr_return_quantity,
        |    sr_customer_sk, sr_returned_date_sk
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  WHERE d_year = 1999),
        |cs AS (
        |  SELECT cs_customer_sk, cs_quantity, cs_sold_date_sk
        |  FROM catalog_sales
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE d_year IN (1999, 2000))
        |SELECT ss_store_sk,
        |  sum(ss_quantity)::BIGINT AS store_sales_quantity,
        |  sum(sr_return_quantity)::BIGINT AS store_returns_quantity,
        |  sum(cs_quantity)::BIGINT AS catalog_sales_quantity
        |FROM returned
        |JOIN cs ON sr_customer_sk = cs_customer_sk
        |  AND cs_sold_date_sk > sr_returned_date_sk
        |GROUP BY ss_store_sk""".stripMargin),
    "q_tpcdsgen_q40" -> (G.oracleGenSql +
      """SELECT w_warehouse_name, cs_item_sk,
        |  sum(CASE WHEN cs_sold_date_sk < 500 THEN net_c ELSE 0 END)::BIGINT
        |    AS sales_before,
        |  sum(CASE WHEN cs_sold_date_sk >= 500 THEN net_c ELSE 0 END)::BIGINT
        |    AS sales_after
        |FROM (
        |  SELECT cs_warehouse_sk, cs_item_sk, cs_sold_date_sk,
        |    cs_ext_sales_price_c - coalesce(cr_return_amt_c, 0) AS net_c
        |  FROM catalog_sales
        |  LEFT JOIN catalog_returns ON cs_order_number = cr_order_number
        |  WHERE cs_sold_date_sk BETWEEN 470 AND 530)
        |JOIN item ON cs_item_sk = i_item_sk
        |JOIN warehouse ON cs_warehouse_sk = w_warehouse_sk
        |WHERE i_current_price_c BETWEEN 100 AND 1500
        |GROUP BY w_warehouse_name, cs_item_sk""".stripMargin),
    "q_tpcdsgen_q5" -> (G.oracleGenSql +
      """SELECT channel, unit_sk,
        |  sum(sales_c)::BIGINT AS sales_c,
        |  sum(returns_c)::BIGINT AS returns_c,
        |  sum(profit_c)::BIGINT AS profit_c
        |FROM (
        |  SELECT 'store channel' AS channel, ss_store_sk AS unit_sk,
        |    ss_ext_sales_price_c AS sales_c, 0 AS returns_c,
        |    ss_net_profit_c AS profit_c
        |  FROM store_sales
        |  UNION ALL
        |  SELECT 'store channel', sr_store_sk, 0, sr_return_amt_c, -sr_return_amt_c
        |  FROM store_returns
        |  UNION ALL
        |  SELECT 'catalog channel', cs_call_center_sk, cs_ext_sales_price_c, 0,
        |    cs_net_profit_c
        |  FROM catalog_sales
        |  UNION ALL
        |  SELECT 'catalog channel', 0, 0, cr_return_amt_c, -cr_return_amt_c
        |  FROM catalog_returns
        |  UNION ALL
        |  SELECT 'web channel', ws_web_site_sk, ws_ext_sales_price_c, 0,
        |    ws_net_profit_c
        |  FROM web_sales
        |  UNION ALL
        |  SELECT 'web channel', 0, 0, wr_return_amt_c, -wr_return_amt_c
        |  FROM web_returns)
        |GROUP BY ROLLUP (channel, unit_sk)""".stripMargin),
    "q_tpcdsgen_q33" -> (G.oracleGenSql + channelRevCte("d_year = 1998 AND d_moy = 3") +
      """SELECT i_manufact_id, sum(rev)::BIGINT AS total_sales_c
        |FROM chan JOIN item ON item_sk = i_item_sk
        |WHERE i_category_id = 3
        |GROUP BY i_manufact_id""".stripMargin),
    "q_tpcdsgen_q60" -> (G.oracleGenSql + channelRevCte("d_year = 1999 AND d_moy = 9") +
      """SELECT i_item_sk AS item, sum(rev)::BIGINT AS total_sales_c
        |FROM chan JOIN item ON item_sk = i_item_sk
        |WHERE i_category_id = 7
        |GROUP BY i_item_sk""".stripMargin),
    "q_tpcdsgen_q58" -> (G.oracleGenSql +
      """, ssr AS (
        |  SELECT ss_item_sk AS item, sum(ss_ext_sales_price_c)::BIGINT AS ss_rev
        |  FROM store_sales JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE d_year = 1998 AND d_qoy = 1 GROUP BY 1),
        |csr AS (
        |  SELECT cs_item_sk AS item, sum(cs_ext_sales_price_c)::BIGINT AS cs_rev
        |  FROM catalog_sales JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE d_year = 1998 AND d_qoy = 1 GROUP BY 1),
        |wsr AS (
        |  SELECT ws_item_sk AS item, sum(ws_ext_sales_price_c)::BIGINT AS ws_rev
        |  FROM web_sales JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE d_year = 1998 AND d_qoy = 1 GROUP BY 1)
        |SELECT ssr.item, ss_rev, cs_rev, ws_rev
        |FROM ssr JOIN csr ON ssr.item = csr.item JOIN wsr ON ssr.item = wsr.item
        |WHERE ss_rev * 30 >= (ss_rev + cs_rev + ws_rev) * 5
        |  AND ss_rev * 30 <= (ss_rev + cs_rev + ws_rev) * 15
        |  AND cs_rev * 30 >= (ss_rev + cs_rev + ws_rev) * 5
        |  AND cs_rev * 30 <= (ss_rev + cs_rev + ws_rev) * 15
        |  AND ws_rev * 30 >= (ss_rev + cs_rev + ws_rev) * 5
        |  AND ws_rev * 30 <= (ss_rev + cs_rev + ws_rev) * 15""".stripMargin),
    "q_tpcdsgen_q2" -> (G.oracleGenSql +
      """, wk AS (
        |  SELECT d_week_seq,
        |    sum(CASE WHEN d_dow = 0 THEN p ELSE 0 END)::BIGINT AS sun_sales,
        |    sum(CASE WHEN d_dow = 1 THEN p ELSE 0 END)::BIGINT AS mon_sales,
        |    sum(CASE WHEN d_dow = 2 THEN p ELSE 0 END)::BIGINT AS tue_sales,
        |    sum(CASE WHEN d_dow = 3 THEN p ELSE 0 END)::BIGINT AS wed_sales,
        |    sum(CASE WHEN d_dow = 4 THEN p ELSE 0 END)::BIGINT AS thu_sales,
        |    sum(CASE WHEN d_dow = 5 THEN p ELSE 0 END)::BIGINT AS fri_sales,
        |    sum(CASE WHEN d_dow = 6 THEN p ELSE 0 END)::BIGINT AS sat_sales
        |  FROM (
        |    SELECT cs_sold_date_sk AS sold_sk, cs_ext_sales_price_c AS p FROM catalog_sales
        |    UNION ALL
        |    SELECT ws_sold_date_sk, ws_ext_sales_price_c FROM web_sales)
        |  JOIN date_dim ON sold_sk = d_date_sk
        |  GROUP BY d_week_seq)
        |SELECT y1.d_week_seq,
        |  y1.sun_sales * 1000000 // nullif(y2.sun_sales, 0) AS sun_ratio_ppm,
        |  y1.mon_sales * 1000000 // nullif(y2.mon_sales, 0) AS mon_ratio_ppm,
        |  y1.tue_sales * 1000000 // nullif(y2.tue_sales, 0) AS tue_ratio_ppm,
        |  y1.wed_sales * 1000000 // nullif(y2.wed_sales, 0) AS wed_ratio_ppm,
        |  y1.thu_sales * 1000000 // nullif(y2.thu_sales, 0) AS thu_ratio_ppm,
        |  y1.fri_sales * 1000000 // nullif(y2.fri_sales, 0) AS fri_ratio_ppm,
        |  y1.sat_sales * 1000000 // nullif(y2.sat_sales, 0) AS sat_ratio_ppm
        |FROM wk y1
        |JOIN wk y2 ON y2.d_week_seq = y1.d_week_seq + 52
        |WHERE y1.d_week_seq <= 52""".stripMargin),
    "q_tpcdsgen_q71" -> (G.oracleGenSql +
      """SELECT i_brand_id, i_brand, t_hour, sum(p)::BIGINT AS ext_price_c
        |FROM (
        |  SELECT ss_item_sk AS item_sk, ss_sold_time_sk AS time_sk,
        |    ss_sold_date_sk AS sold_sk, ss_ext_sales_price_c AS p FROM store_sales
        |  UNION ALL
        |  SELECT cs_item_sk, cs_sold_time_sk, cs_sold_date_sk, cs_ext_sales_price_c
        |  FROM catalog_sales
        |  UNION ALL
        |  SELECT ws_item_sk, ws_sold_time_sk, ws_sold_date_sk, ws_ext_sales_price_c
        |  FROM web_sales)
        |JOIN date_dim ON sold_sk = d_date_sk
        |JOIN item ON item_sk = i_item_sk
        |JOIN time_dim ON time_sk = t_time_sk
        |WHERE d_year = 2001 AND d_moy = 12 AND i_manager_id = 1
        |  AND t_hour IN (7, 8, 19, 20)
        |GROUP BY i_brand_id, i_brand, t_hour""".stripMargin),
    "q_tpcdsgen_q15" -> (G.oracleGenSql +
      """SELECT c_zip, sum(cs_sales_price_c)::BIGINT AS total_sales_c
        |FROM catalog_sales
        |JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |JOIN customer ON cs_customer_sk = c_customer_sk
        |WHERE d_year = 2000 AND d_qoy = 2
        |  AND (c_customer_sk * 29 % 100 < 10 OR cs_ext_sales_price_c > 900000)
        |GROUP BY c_zip""".stripMargin),
    "q_tpcdsgen_q45" -> (G.oracleGenSql +
      """SELECT c_zip, sum(ws_ext_sales_price_c)::BIGINT AS total_sales_c
        |FROM web_sales
        |JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |JOIN customer ON ws_bill_customer_sk = c_customer_sk
        |WHERE d_year = 1999 AND d_qoy = 3
        |  AND (c_customer_sk * 29 % 100 >= 90
        |       OR ws_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29))
        |GROUP BY c_zip""".stripMargin),
    "q_tpcdsgen_q21" -> (G.oracleGenSql +
      """SELECT w_warehouse_name, inv_item_sk,
        |  sum(CASE WHEN inv_date_sk < 1000 THEN inv_quantity_on_hand ELSE 0 END)::BIGINT
        |    AS inv_before,
        |  sum(CASE WHEN inv_date_sk >= 1000 THEN inv_quantity_on_hand ELSE 0 END)::BIGINT
        |    AS inv_after
        |FROM inventory
        |JOIN item ON inv_item_sk = i_item_sk
        |JOIN warehouse ON inv_warehouse_sk = w_warehouse_sk
        |WHERE inv_date_sk BETWEEN 970 AND 1030
        |  AND i_current_price_c BETWEEN 100 AND 1500
        |GROUP BY w_warehouse_name, inv_item_sk
        |HAVING inv_before > 0 AND inv_after * 3 >= inv_before * 2
        |  AND inv_after * 2 <= inv_before * 3""".stripMargin),
    "q_tpcdsgen_q37" -> (G.oracleGenSql +
      """SELECT i_item_sk, i_current_price_c
        |FROM item
        |WHERE i_current_price_c BETWEEN 2000 AND 5000
        |  AND EXISTS (SELECT 1 FROM inventory
        |              WHERE inv_item_sk = i_item_sk
        |                AND inv_date_sk BETWEEN 900 AND 960
        |                AND inv_quantity_on_hand BETWEEN 100 AND 500)
        |  AND EXISTS (SELECT 1 FROM catalog_sales WHERE cs_item_sk = i_item_sk)""".stripMargin),
    "q_tpcdsgen_q82" -> (G.oracleGenSql +
      """SELECT i_item_sk, i_current_price_c
        |FROM item
        |WHERE i_current_price_c BETWEEN 5000 AND 8000
        |  AND EXISTS (SELECT 1 FROM inventory
        |              WHERE inv_item_sk = i_item_sk
        |                AND inv_date_sk BETWEEN 400 AND 460
        |                AND inv_quantity_on_hand BETWEEN 100 AND 500)
        |  AND EXISTS (SELECT 1 FROM store_sales WHERE ss_item_sk = i_item_sk)""".stripMargin),
    "q_tpcdsgen_q39" -> (G.oracleGenSql +
      """, m AS (
        |  SELECT inv_warehouse_sk, inv_item_sk, d_moy,
        |    count(*) AS n, sum(inv_quantity_on_hand)::BIGINT AS qsum,
        |    sum(inv_quantity_on_hand * inv_quantity_on_hand)::BIGINT AS qsumsq
        |  FROM inventory
        |  JOIN date_dim ON inv_date_sk = d_date_sk
        |  WHERE d_year = 2000 AND d_moy IN (3, 4)
        |  GROUP BY 1, 2, 3
        |  HAVING sum(inv_quantity_on_hand) > 0
        |    AND count(*) * (count(*) * sum(inv_quantity_on_hand * inv_quantity_on_hand)
        |          - sum(inv_quantity_on_hand) * sum(inv_quantity_on_hand)) * 25 >
        |        (count(*) - 1) * sum(inv_quantity_on_hand) * sum(inv_quantity_on_hand) * 16)
        |SELECT m1.inv_warehouse_sk AS w_sk, m1.inv_item_sk AS i_sk,
        |  m1.n AS n1, m1.qsum AS mean1_sum, m2.n AS n2, m2.qsum AS mean2_sum
        |FROM m m1
        |JOIN m m2 ON m1.inv_warehouse_sk = m2.inv_warehouse_sk
        |  AND m1.inv_item_sk = m2.inv_item_sk
        |WHERE m1.d_moy = 3 AND m2.d_moy = 4""".stripMargin),
    "q_tpcdsgen_q92" -> (G.oracleGenSql +
      """, w AS (
        |  SELECT ws_item_sk, ws_ext_discount_amt_c
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  JOIN item ON ws_item_sk = i_item_sk
        |  WHERE d_year = 2000 AND d_moy BETWEEN 1 AND 3 AND i_manufact_id = 35),
        |pi AS (
        |  SELECT ws_item_sk AS pi_item, sum(ws_ext_discount_amt_c)::BIGINT AS pi_sum,
        |    count(*) AS pi_cnt
        |  FROM w GROUP BY 1)
        |SELECT sum(ws_ext_discount_amt_c)::BIGINT AS excess_discount_c,
        |  count(*) AS n_rows
        |FROM w JOIN pi ON ws_item_sk = pi_item
        |WHERE ws_ext_discount_amt_c * pi_cnt * 10 > pi_sum * 13""".stripMargin),
    "q_tpcdsgen_q32" -> (G.oracleGenSql +
      """, w AS (
        |  SELECT cs_item_sk, cs_ext_discount_amt_c
        |  FROM catalog_sales
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  JOIN item ON cs_item_sk = i_item_sk
        |  WHERE d_year = 2000 AND d_moy BETWEEN 4 AND 6 AND i_manufact_id = 77),
        |pi AS (
        |  SELECT cs_item_sk AS pi_item, sum(cs_ext_discount_amt_c)::BIGINT AS pi_sum,
        |    count(*) AS pi_cnt
        |  FROM w GROUP BY 1)
        |SELECT sum(cs_ext_discount_amt_c)::BIGINT AS excess_discount_c,
        |  count(*) AS n_rows
        |FROM w JOIN pi ON cs_item_sk = pi_item
        |WHERE cs_ext_discount_amt_c * pi_cnt * 10 > pi_sum * 13""".stripMargin),
    "q_tpcdsgen_q94" -> (G.oracleGenSql +
      """SELECT count(*) AS order_count,
        |  sum(ws_net_profit_c)::BIGINT AS total_net_profit_c
        |FROM web_sales
        |JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |JOIN warehouse ON ws_warehouse_sk = w_warehouse_sk
        |WHERE d_year = 1999 AND ws_ship_date_sk - ws_sold_date_sk <= 60
        |  AND w_state = 'GA'
        |  AND NOT EXISTS (SELECT 1 FROM web_returns
        |                  WHERE wr_order_number = ws_order_number)""".stripMargin),
    "q_tpcdsgen_q16" -> (G.oracleGenSql +
      """SELECT count(*) AS order_count,
        |  sum(cs_net_profit_c)::BIGINT AS total_net_profit_c
        |FROM catalog_sales
        |JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |JOIN call_center ON cs_call_center_sk = cc_call_center_sk
        |WHERE d_year = 2001 AND cs_ship_date_sk - cs_sold_date_sk <= 30
        |  AND cc_name IN ('CC1', 'CC2', 'CC3')
        |  AND NOT EXISTS (SELECT 1 FROM catalog_returns
        |                  WHERE cr_order_number = cs_order_number)""".stripMargin),
    "q_tpcdsgen_q26" -> (G.oracleGenSql +
      """SELECT cs_item_sk, count(*) AS n,
        |  sum(cs_quantity)::DOUBLE / count(*) AS agg1,
        |  sum(cs_sales_price_c)::DOUBLE / count(*) AS agg2,
        |  sum(cs_ext_discount_amt_c)::DOUBLE / count(*) AS agg3
        |FROM catalog_sales
        |JOIN customer ON cs_customer_sk = c_customer_sk
        |JOIN promotion ON cs_promo_sk = p_promo_sk
        |WHERE c_birth_year BETWEEN 1950 AND 1959
        |  AND p_channel_email = 'N' AND p_channel_event = 'N'
        |GROUP BY cs_item_sk""".stripMargin),
    "q_tpcdsgen_q61" -> (G.oracleGenSql +
      """SELECT promotions_c, total_c, promotions_c * 1000000 // total_c AS promo_ratio_ppm
        |FROM (
        |  SELECT
        |    sum(CASE WHEN p_channel_email = 'Y' OR p_channel_event = 'Y'
        |        THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS promotions_c,
        |    sum(ss_ext_sales_price_c)::BIGINT AS total_c
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  JOIN store ON ss_store_sk = s_store_sk
        |  JOIN promotion ON ss_promo_sk = p_promo_sk
        |  WHERE d_year = 1998 AND d_moy = 11 AND i_category_id = 10
        |    AND s_state = 'KY')""".stripMargin),
    "q_tpcdsgen_q43" -> (G.oracleGenSql +
      """SELECT s_store_sk, s_state,
        |  sum(CASE WHEN d_dow = 0 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS sun_sales,
        |  sum(CASE WHEN d_dow = 1 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS mon_sales,
        |  sum(CASE WHEN d_dow = 2 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS tue_sales,
        |  sum(CASE WHEN d_dow = 3 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS wed_sales,
        |  sum(CASE WHEN d_dow = 4 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS thu_sales,
        |  sum(CASE WHEN d_dow = 5 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS fri_sales,
        |  sum(CASE WHEN d_dow = 6 THEN ss_ext_sales_price_c ELSE 0 END)::BIGINT AS sat_sales
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN store ON ss_store_sk = s_store_sk
        |WHERE d_year = 2000
        |GROUP BY s_store_sk, s_state""".stripMargin),
    "q_tpcdsgen_q88" -> (G.oracleGenSql +
      """SELECT
        |  sum(CASE WHEN t_hour = 8 AND t_minute >= 30 THEN 1 ELSE 0 END)::BIGINT AS h8_30,
        |  sum(CASE WHEN t_hour = 9 AND t_minute < 30 THEN 1 ELSE 0 END)::BIGINT AS h9_00,
        |  sum(CASE WHEN t_hour = 9 AND t_minute >= 30 THEN 1 ELSE 0 END)::BIGINT AS h9_30,
        |  sum(CASE WHEN t_hour = 10 AND t_minute < 30 THEN 1 ELSE 0 END)::BIGINT AS h10_00,
        |  sum(CASE WHEN t_hour = 10 AND t_minute >= 30 THEN 1 ELSE 0 END)::BIGINT AS h10_30,
        |  sum(CASE WHEN t_hour = 11 AND t_minute < 30 THEN 1 ELSE 0 END)::BIGINT AS h11_00,
        |  sum(CASE WHEN t_hour = 11 AND t_minute >= 30 THEN 1 ELSE 0 END)::BIGINT AS h11_30,
        |  sum(CASE WHEN t_hour = 12 AND t_minute < 30 THEN 1 ELSE 0 END)::BIGINT AS h12_00
        |FROM store_sales
        |JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
        |JOIN time_dim ON ss_sold_time_sk = t_time_sk
        |WHERE hd_dep_count IN (1, 3, 5) AND t_hour BETWEEN 8 AND 12""".stripMargin),
    "q_tpcdsgen_q96" -> (G.oracleGenSql +
      """SELECT count(*) AS cnt
        |FROM store_sales
        |JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
        |JOIN time_dim ON ss_sold_time_sk = t_time_sk
        |JOIN store ON ss_store_sk = s_store_sk
        |WHERE hd_dep_count = 7 AND t_hour = 20 AND t_minute >= 30
        |  AND s_state = 'GA'""".stripMargin),
    "q_tpcdsgen_q90" -> (G.oracleGenSql +
      """SELECT am_count, pm_count, am_count * 1000000 // pm_count AS am_pm_ratio_ppm
        |FROM (
        |  SELECT
        |    sum(CASE WHEN t_hour BETWEEN 8 AND 9 THEN 1 ELSE 0 END)::BIGINT AS am_count,
        |    sum(CASE WHEN t_hour BETWEEN 19 AND 20 THEN 1 ELSE 0 END)::BIGINT AS pm_count
        |  FROM web_sales
        |  JOIN household_demographics ON ws_hdemo_sk = hd_demo_sk
        |  JOIN time_dim ON ws_sold_time_sk = t_time_sk
        |  WHERE hd_dep_count = 6
        |    AND (t_hour BETWEEN 8 AND 9 OR t_hour BETWEEN 19 AND 20))""".stripMargin),
    "q_tpcdsgen_q62" -> (G.oracleGenSql +
      """SELECT w_warehouse_name, sm_type, web_name,
        |  sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)::BIGINT AS d30,
        |  sum(CASE WHEN lag_days > 30 AND lag_days <= 60 THEN 1 ELSE 0 END)::BIGINT AS d31_60,
        |  sum(CASE WHEN lag_days > 60 AND lag_days <= 90 THEN 1 ELSE 0 END)::BIGINT AS d61_90,
        |  sum(CASE WHEN lag_days > 90 AND lag_days <= 120 THEN 1 ELSE 0 END)::BIGINT AS d91_120,
        |  sum(CASE WHEN lag_days > 120 THEN 1 ELSE 0 END)::BIGINT AS d120plus
        |FROM (
        |  SELECT ws_warehouse_sk, ws_ship_mode_sk, ws_web_site_sk,
        |    ws_ship_date_sk - ws_sold_date_sk AS lag_days
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE d_year = 2000)
        |JOIN warehouse ON ws_warehouse_sk = w_warehouse_sk
        |JOIN ship_mode ON ws_ship_mode_sk = sm_ship_mode_sk
        |JOIN web_site ON ws_web_site_sk = web_site_sk
        |GROUP BY w_warehouse_name, sm_type, web_name""".stripMargin),
    "q_tpcdsgen_q99" -> (G.oracleGenSql +
      """SELECT w_warehouse_name, sm_type, cc_name,
        |  sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)::BIGINT AS d30,
        |  sum(CASE WHEN lag_days > 30 AND lag_days <= 60 THEN 1 ELSE 0 END)::BIGINT AS d31_60,
        |  sum(CASE WHEN lag_days > 60 AND lag_days <= 90 THEN 1 ELSE 0 END)::BIGINT AS d61_90,
        |  sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END)::BIGINT AS d90plus
        |FROM (
        |  SELECT cs_warehouse_sk, cs_ship_mode_sk, cs_call_center_sk,
        |    cs_ship_date_sk - cs_sold_date_sk AS lag_days
        |  FROM catalog_sales
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE d_year = 2000)
        |JOIN warehouse ON cs_warehouse_sk = w_warehouse_sk
        |JOIN ship_mode ON cs_ship_mode_sk = sm_ship_mode_sk
        |JOIN call_center ON cs_call_center_sk = cc_call_center_sk
        |GROUP BY w_warehouse_name, sm_type, cc_name""".stripMargin))
}
