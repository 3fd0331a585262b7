package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TpcdsGen => G}

/** The last block of REAL TPC-DS query texts over the deterministic
  * generator — the 13 queries that needed the r14 schema extensions:
  * the five BASKET queries (q34/q46/q68/q73/q79 — multi-line tickets,
  * closed in the r14 re-grain), the customer-name/address family
  * (q8/q10/q24), the income-band/reason dims (q84/q85), NULL-channel
  * census (q76) and the sale→return→repurchase stat twins (q17/q25).
  * Together with [[TpcdsGen]]/[[TpcdsGen2]] this closes the
  * reference's own e2e battery (flink-end-to-end-tests/
  * flink-tpcds-test/.../TpcdsTestProgram.java:76-85) minus the two
  * declared-out texts documented in COVERAGE.md. Each query is written
  * once, as its oracle text, and Spark runs that text
  * ([[TpcdsSqlText]]); q64 keeps a DataFrame body that folds its
  * year-over-year self-join into one pass, which the text does not.
  *
  * Declared adaptations shared by this file (COVERAGE.md lists them):
  * demographic predicates run on household_demographics via
  * c_current_hdemo_sk (the generator carries no separate
  * customer_demographics dim — the established q7/q26 pattern);
  * money thresholds are exact integer cents; averages are exact
  * integer sums divided ONCE (bit-identical doubles across engines);
  * variance-style outputs emit (n, Σx, Σx²) exact integers — the q39
  * discipline — instead of engine-rounded stddevs.
  */
object TpcdsGen3 {

  /** TPC-DS q64: items RESOLD the year after a returned sale — the
    * cross_sales CTE binds the full dim ring (store, customer, both
    * household demographics with their income bands, both addresses,
    * promotion, item) around a ss⋈sr pair restricted to catalog
    * items whose sales exceed twice their refunds (cs_ui — 431 of
    * 1000 items, a working cut), then pivots 1999 vs 2000 at item
    * grain in ONE pass (per-year conditional aggregates — r17 folded
    * the former (item, year) self-join, which evaluated the whole
    * cross_sales subtree twice) with the published cnt2 <= cnt1
    * retention cut (non-vacuous at this grain: counts run 1–4; at
    * the published street-address grain every closed-form cell is a
    * singleton and the cut would pass everything). hd buy-potential
    * mismatch stands in for the cd marital mismatch (declared cd→hd
    * adaptation). Both cross_sales sides are item-sized aggregates;
    * every dim join broadcasts.
    */
  def q64(s: SparkSession, dir: String): DataFrame = {
    val n = G.nSales(s, dir)
    val csUi = G.catalogSales(s, n)
      .join(G.catalogReturns(s, n), col("cs_order_number") === col("cr_order_number"))
      .groupBy(col("cs_item_sk"))
      .agg(sum(col("cs_ext_sales_price_c")).as("sale"),
        sum(col("cr_return_amt_c")).as("refund"))
      .where(col("sale") > col("refund") * 2)
      .select(col("cs_item_sk"))
    val hd2 = G.householdDemographics(s).select(
      col("hd_demo_sk").as("hd2_sk"), col("hd_buy_potential").as("hd2_pot"),
      col("hd_income_band_sk").as("hd2_ib"))
    val ad2 = G.customerAddress(s).select(col("ca_address_sk").as("ad2_sk"))
    val ib2 = G.incomeBand(s).select(col("ib_income_band_sk").as("ib2_sk"))
    val crossSales = G.storeSales(s, n)
      .join(G.storeReturns(s, n),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk"))
      .join(broadcast(csUi), col("ss_item_sk") === col("cs_item_sk"), "left_semi")
      .join(broadcast(G.dateDim(s)), col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(G.store(s)), col("ss_store_sk") === col("s_store_sk"))
      .join(broadcast(G.customer(s)), col("ss_customer_sk") === col("c_customer_sk"))
      .join(broadcast(G.householdDemographics(s)),
        col("ss_hdemo_sk") === col("hd_demo_sk"))
      .join(broadcast(G.incomeBand(s)),
        col("hd_income_band_sk") === col("ib_income_band_sk"))
      .join(broadcast(hd2), col("c_current_hdemo_sk") === col("hd2_sk"))
      .join(broadcast(ib2), col("hd2_ib") === col("ib2_sk"))
      .join(broadcast(G.customerAddress(s)),
        col("ss_addr_sk") === col("ca_address_sk"))
      .join(broadcast(ad2), col("c_current_addr_sk") === col("ad2_sk"))
      .join(broadcast(G.promotion(s)), col("ss_promo_sk") === col("p_promo_sk"))
      .join(broadcast(G.item(s).where(
        col("i_color").isin("chiffon", "burlywood", "spring", "floral", "light", "cyan", "dirty", "shiny") &&
          col("i_current_price_c").between(2000, 9000))),
        col("ss_item_sk") === col("i_item_sk"))
      .where(col("hd_buy_potential") =!= col("hd2_pot"))
      // year-pair pivot folded into ONE pass (r17 — the q2/q14
      // treatment, §2.4): the r16 plan evaluated the whole cross_sales
      // subtree (ss⋈sr fact-fact join + 12 broadcast dims + the
      // aggregate) TWICE, once per year branch. The pre-filter to the
      // two compared years is exactly what the old cs1/cs2 year cuts
      // kept; per-year conditional aggregates + count-presence flags
      // reproduce the inner self-join (cnt is count(*) per (item,
      // year), so presence ≡ cnt > 0); product_name is functionally
      // dependent on item_sk (a dim attribute).
      .where(col("d_year").isin(1999, 2000))
      .groupBy(col("i_product_name").as("product_name"),
        col("i_item_sk").as("item_sk"))
      .agg(count(when(col("d_year") === 1999, lit(1))).as("cnt"),
        sum(when(col("d_year") === 1999, col("ss_wholesale_cost_c"))).as("s1"),
        sum(when(col("d_year") === 1999, col("ss_ext_list_price_c"))).as("s2"),
        sum(when(col("d_year") === 1999, col("ss_coupon_amt_c"))).as("s3"),
        count(when(col("d_year") === 2000, lit(1))).as("cnt2"),
        sum(when(col("d_year") === 2000, col("ss_wholesale_cost_c"))).as("t1"),
        sum(when(col("d_year") === 2000, col("ss_ext_list_price_c"))).as("t2"),
        sum(when(col("d_year") === 2000, col("ss_coupon_amt_c"))).as("t3"))
    crossSales
      .where(col("cnt") > 0 && col("cnt2") > 0 && col("cnt2") <= col("cnt"))
      .select(col("product_name"), col("item_sk"), col("cnt"), col("cnt2"),
        col("s1"), col("s2"), col("s3"), col("t1"), col("t2"), col("t3"))
  }


  private def basketOracle(dateCond: String, storeCond: String, hdCond: String,
      cntCond: String): String =
    G.oracleGenSql +
      s""", dn AS (
         |  SELECT ss_ticket_number, ss_customer_sk, count(*) AS cnt
         |  FROM store_sales
         |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
         |  JOIN store ON ss_store_sk = s_store_sk
         |  JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
         |  WHERE ($dateCond) AND ($storeCond) AND ($hdCond)
         |  GROUP BY 1, 2)
         |SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
         |  ss_ticket_number, cnt
         |FROM dn JOIN customer ON ss_customer_sk = c_customer_sk
         |WHERE $cntCond""".stripMargin

  private def cityOracle(dateCond: String, cityCond: String,
      measures: String, outMeasures: String): String =
    G.oracleGenSql +
      s""", dn AS (
         |  SELECT ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
         |    $measures
         |  FROM store_sales
         |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
         |  JOIN store ON ss_store_sk = s_store_sk
         |  JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
         |  JOIN customer_address ON ss_addr_sk = ca_address_sk
         |  WHERE ($dateCond) AND ($cityCond)
         |    AND (hd_dep_count = 4 OR hd_vehicle_count = 3)
         |  GROUP BY 1, 2, 3)
         |SELECT c_last_name, c_first_name, ca_city, bought_city,
         |  ss_ticket_number, $outMeasures
         |FROM dn
         |JOIN customer ON ss_customer_sk = c_customer_sk
         |JOIN customer_address ON c_current_addr_sk = ca_address_sk
         |WHERE ca_city <> bought_city""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_tpcdsgen_q64" -> (G.oracleGenSql +
      """, cs_ui AS (
        |  SELECT cs_item_sk
        |  FROM catalog_sales
        |  JOIN catalog_returns ON cs_order_number = cr_order_number
        |  GROUP BY cs_item_sk
        |  HAVING sum(cs_ext_sales_price_c) > sum(cr_return_amt_c) * 2),
        |cross_sales AS (
        |  SELECT i_product_name AS product_name, i_item_sk AS item_sk,
        |    d_year AS syear, count(*) AS cnt,
        |    sum(ss_wholesale_cost_c)::BIGINT AS s1,
        |    sum(ss_ext_list_price_c)::BIGINT AS s2,
        |    sum(ss_coupon_amt_c)::BIGINT AS s3
        |  FROM store_sales
        |  JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN store ON ss_store_sk = s_store_sk
        |  JOIN customer ON ss_customer_sk = c_customer_sk
        |  JOIN household_demographics hd1 ON ss_hdemo_sk = hd1.hd_demo_sk
        |  JOIN income_band ib1 ON hd1.hd_income_band_sk = ib1.ib_income_band_sk
        |  JOIN household_demographics hd2 ON c_current_hdemo_sk = hd2.hd_demo_sk
        |  JOIN income_band ib2 ON hd2.hd_income_band_sk = ib2.ib_income_band_sk
        |  JOIN customer_address ad1 ON ss_addr_sk = ad1.ca_address_sk
        |  JOIN customer_address ad2 ON c_current_addr_sk = ad2.ca_address_sk
        |  JOIN promotion ON ss_promo_sk = p_promo_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE ss_item_sk IN (SELECT cs_item_sk FROM cs_ui)
        |    AND i_color IN ('chiffon', 'burlywood', 'spring', 'floral', 'light', 'cyan', 'dirty', 'shiny')
        |    AND i_current_price_c BETWEEN 2000 AND 9000
        |    AND hd1.hd_buy_potential <> hd2.hd_buy_potential
        |  GROUP BY 1, 2, 3)
        |SELECT cs1.product_name, cs1.item_sk, cs1.cnt, cs2.cnt AS cnt2,
        |  cs1.s1, cs1.s2, cs1.s3, cs2.s1 AS t1, cs2.s2 AS t2, cs2.s3 AS t3
        |FROM cross_sales cs1
        |JOIN cross_sales cs2 ON cs1.item_sk = cs2.item_sk
        |WHERE cs1.syear = 1999 AND cs2.syear = 2000 AND cs2.cnt <= cs1.cnt""".stripMargin),
    "q_tpcdsgen_q78" -> (G.oracleGenSql +
      """, ss AS (
        |  SELECT d_year AS ss_sold_year, ss_item_sk, ss_customer_sk,
        |    sum(ss_quantity)::BIGINT AS ss_qty,
        |    sum(ss_wholesale_cost_c)::BIGINT AS ss_wc,
        |    sum(ss_sales_price_c)::BIGINT AS ss_sp
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  WHERE NOT EXISTS (SELECT 1 FROM store_returns
        |    WHERE ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk)
        |  GROUP BY 1, 2, 3),
        |ws AS (
        |  SELECT d_year AS wy, ws_item_sk AS wi, ws_bill_customer_sk AS wc,
        |    sum(ws_quantity)::BIGINT AS ws_qty,
        |    sum(ws_wholesale_cost_c)::BIGINT AS ws_wc,
        |    sum(ws_sales_price_c)::BIGINT AS ws_sp
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  WHERE NOT EXISTS (SELECT 1 FROM web_returns
        |    WHERE ws_order_number = wr_order_number)
        |  GROUP BY 1, 2, 3),
        |cs AS (
        |  SELECT d_year AS cy, cs_item_sk AS ci, cs_customer_sk AS cc,
        |    sum(cs_quantity)::BIGINT AS cs_qty,
        |    sum(cs_wholesale_cost_c)::BIGINT AS cs_wc,
        |    sum(cs_sales_price_c)::BIGINT AS cs_sp
        |  FROM catalog_sales
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  WHERE NOT EXISTS (SELECT 1 FROM catalog_returns
        |    WHERE cs_order_number = cr_order_number)
        |  GROUP BY 1, 2, 3)
        |SELECT ss_item_sk, ss_customer_sk,
        |  (ss_qty * 1000000 // greatest(coalesce(ws_qty, 0) + coalesce(cs_qty, 0), 1))::BIGINT
        |    AS ratio_ppm,
        |  ss_qty, ss_wc, ss_sp,
        |  (coalesce(ws_qty, 0) + coalesce(cs_qty, 0))::BIGINT AS other_chan_qty,
        |  (coalesce(ws_wc, 0) + coalesce(cs_wc, 0))::BIGINT AS other_chan_wholesale_cost,
        |  (coalesce(ws_sp, 0) + coalesce(cs_sp, 0))::BIGINT AS other_chan_sales_price
        |FROM ss
        |LEFT JOIN ws ON ss_sold_year = wy AND ss_item_sk = wi AND ss_customer_sk = wc
        |LEFT JOIN cs ON ss_sold_year = cy AND ss_item_sk = ci AND ss_customer_sk = cc
        |WHERE ss_sold_year = 2000
        |  AND (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0)""".stripMargin),
    "q_tpcdsgen_q34" -> basketOracle(
      "(d_dom BETWEEN 1 AND 3 OR d_dom BETWEEN 25 AND 28) AND d_year IN (1998, 1999, 2000)",
      "s_state IN ('KY', 'GA', 'AL')",
      "hd_buy_potential = '1001-5000' AND hd_vehicle_count > 0 AND hd_dep_count * 5 > hd_vehicle_count * 6",
      "cnt BETWEEN 15 AND 20"),
    "q_tpcdsgen_q73" -> basketOracle(
      "d_dom BETWEEN 1 AND 2 AND d_year IN (1998, 1999, 2000)",
      "s_state IN ('KY', 'GA')",
      "hd_buy_potential IN ('1001-5000', 'Unknown') AND hd_vehicle_count > 0 AND hd_dep_count > hd_vehicle_count",
      "cnt BETWEEN 1 AND 5"),
    "q_tpcdsgen_q46" -> cityOracle(
      "d_dow IN (6, 0) AND d_year IN (1998, 1999, 2000)",
      "s_city IN ('Fairview', 'Midway', 'Liberty', 'Plainview', 'Pleasant Hill')",
      "sum(ss_coupon_amt_c)::BIGINT AS amt, sum(ss_net_profit_c)::BIGINT AS profit",
      "amt, profit"),
    "q_tpcdsgen_q68" -> cityOracle(
      "d_dom BETWEEN 1 AND 2 AND d_year IN (1998, 1999, 2000)",
      "s_city IN ('Fairview', 'Midway')",
      "sum(ss_ext_sales_price_c)::BIGINT AS extended_price, " +
        "sum(ss_ext_list_price_c)::BIGINT AS list_price, " +
        "sum(ss_ext_tax_c)::BIGINT AS extended_tax",
      "extended_price, extended_tax, list_price"),
    "q_tpcdsgen_q79" -> (G.oracleGenSql +
      """, ms AS (
        |  SELECT ss_ticket_number, ss_customer_sk, s_city,
        |    sum(ss_coupon_amt_c)::BIGINT AS amt,
        |    sum(ss_net_profit_c)::BIGINT AS profit
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN store ON ss_store_sk = s_store_sk
        |  JOIN household_demographics ON ss_hdemo_sk = hd_demo_sk
        |  WHERE d_dow = 1 AND d_year IN (1998, 1999, 2000)
        |    AND s_number_employees BETWEEN 200 AND 295
        |    AND (hd_dep_count = 6 OR hd_vehicle_count > 2)
        |  GROUP BY 1, 2, 3)
        |SELECT c_last_name, c_first_name, s_city, ss_ticket_number, amt, profit
        |FROM ms JOIN customer ON ss_customer_sk = c_customer_sk""".stripMargin),
    "q_tpcdsgen_q8" -> (G.oracleGenSql +
      """, qualified AS (
        |  SELECT ca_zip FROM customer
        |  JOIN customer_address ON c_current_addr_sk = ca_address_sk
        |  WHERE c_preferred_cust_flag = 'Y'
        |  GROUP BY ca_zip
        |  HAVING count(*) > 13
        |    AND ca_zip IN ('15394', '68435', '57647', '31576', '79223', '42364'))
        |SELECT s_store_name, sum(ss_net_profit_c)::BIGINT AS profit_c
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN store ON ss_store_sk = s_store_sk
        |WHERE d_qoy = 2 AND d_year = 1998
        |  AND s_zip IN (SELECT ca_zip FROM qualified)
        |GROUP BY s_store_name""".stripMargin),
    "q_tpcdsgen_q10" -> (G.oracleGenSql +
      """, dd AS (SELECT d_date_sk FROM date_dim
        |        WHERE d_year = 2000 AND d_moy BETWEEN 1 AND 4),
        |ssc AS (SELECT DISTINCT ss_customer_sk AS k FROM store_sales
        |        JOIN dd ON ss_sold_date_sk = d_date_sk),
        |wcc AS (SELECT DISTINCT ws_bill_customer_sk AS k FROM web_sales
        |        JOIN dd ON ws_sold_date_sk = d_date_sk
        |        UNION
        |        SELECT DISTINCT cs_customer_sk FROM catalog_sales
        |        JOIN dd ON cs_sold_date_sk = d_date_sk)
        |SELECT hd_dep_count, hd_vehicle_count, hd_buy_potential, count(*) AS cnt
        |FROM customer
        |JOIN customer_address ON c_current_addr_sk = ca_address_sk
        |JOIN household_demographics ON c_current_hdemo_sk = hd_demo_sk
        |WHERE ca_county IN ('Rush County', 'Toole County', 'Jefferson County',
        |    'Dona Ana County', 'La Porte County')
        |  AND c_customer_sk IN (SELECT k FROM ssc)
        |  AND c_customer_sk IN (SELECT k FROM wcc)
        |GROUP BY 1, 2, 3""".stripMargin),
    "q_tpcdsgen_q24" -> (G.oracleGenSql +
      """, ssales AS (
        |  SELECT c_last_name, c_first_name, s_store_name, i_color,
        |    sum(ss_net_paid_c)::BIGINT AS netpaid
        |  FROM store_sales
        |  JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  JOIN store ON ss_store_sk = s_store_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  JOIN customer ON ss_customer_sk = c_customer_sk
        |  JOIN customer_address ON c_current_addr_sk = ca_address_sk
        |  WHERE s_market_id = 2 AND c_birth_country <> ca_country
        |  GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT sum(netpaid)::BIGINT AS sum_all, count(*) AS n_all FROM ssales)
        |SELECT c_last_name, c_first_name, s_store_name,
        |  sum(netpaid)::BIGINT AS paid
        |FROM ssales, tot
        |WHERE i_color = 'burlywood'
        |GROUP BY c_last_name, c_first_name, s_store_name, sum_all, n_all
        |HAVING sum(netpaid) * 20 * n_all > sum_all""".stripMargin),
    "q_tpcdsgen_q84" -> (G.oracleGenSql +
      """SELECT DISTINCT c_customer_sk,
        |  c_last_name || ', ' || c_first_name AS customername
        |FROM customer
        |JOIN customer_address ON c_current_addr_sk = ca_address_sk
        |JOIN household_demographics ON c_current_hdemo_sk = hd_demo_sk
        |JOIN income_band ON hd_income_band_sk = ib_income_band_sk
        |WHERE ca_city IN ('Pleasant Hill', 'Fairview')
        |  AND ib_lower_bound >= 40000 AND ib_upper_bound <= 89999
        |  AND c_customer_sk IN (SELECT sr_customer_sk FROM store_returns)""".stripMargin),
    "q_tpcdsgen_q85" -> (G.oracleGenSql +
      """SELECT r_reason_desc, count(*) AS n,
        |  sum(ws_quantity)::DOUBLE / count(*) AS avg_qty,
        |  sum(wr_return_amt_c)::DOUBLE / count(*) AS avg_refund_c
        |FROM web_sales
        |JOIN web_returns ON ws_order_number = wr_order_number
        |  AND ws_item_sk = wr_item_sk
        |JOIN customer ON wr_refunded_customer_sk = c_customer_sk
        |JOIN household_demographics ON c_current_hdemo_sk = hd_demo_sk
        |JOIN customer_address ON c_current_addr_sk = ca_address_sk
        |JOIN reason ON wr_reason_sk = r_reason_sk
        |WHERE ((hd_dep_count <= 3 AND ws_sales_price_c BETWEEN 5000 AND 7000)
        |    OR (hd_dep_count BETWEEN 4 AND 6 AND ws_sales_price_c BETWEEN 2000 AND 4500)
        |    OR (hd_dep_count >= 7 AND ws_sales_price_c >= 7500))
        |  AND ((ca_state IN ('KY', 'AL', 'VA') AND ws_net_profit_c >= 10000)
        |    OR (ca_state IN ('GA', 'SC') AND ws_net_profit_c BETWEEN -50000 AND 250000)
        |    OR (ca_state IN ('NC', 'OH', 'TX') AND ws_net_profit_c <= 100000))
        |GROUP BY r_reason_desc""".stripMargin),
    "q_tpcdsgen_q76" -> (G.oracleGenSql +
      """SELECT channel, col_name, d_year, d_qoy, i_category,
        |  count(*) AS sales_cnt, sum(ext_sales_price_c)::BIGINT AS sales_amt_c
        |FROM (
        |  SELECT 'store' AS channel, 'ss_addr_sk' AS col_name, d_year, d_qoy,
        |    i_category, ss_ext_sales_price_c AS ext_sales_price_c
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE ss_addr_sk IS NULL
        |  UNION ALL
        |  SELECT 'web', 'ws_ship_customer_sk', d_year, d_qoy, i_category,
        |    ws_ext_sales_price_c
        |  FROM web_sales
        |  JOIN date_dim ON ws_sold_date_sk = d_date_sk
        |  JOIN item ON ws_item_sk = i_item_sk
        |  WHERE ws_ship_customer_sk IS NULL
        |  UNION ALL
        |  SELECT 'catalog', 'cs_ship_addr_sk', d_year, d_qoy, i_category,
        |    cs_ext_sales_price_c
        |  FROM catalog_sales
        |  JOIN date_dim ON cs_sold_date_sk = d_date_sk
        |  JOIN item ON cs_item_sk = i_item_sk
        |  WHERE cs_ship_addr_sk IS NULL)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin),
    "q_tpcdsgen_q17" -> (G.oracleGenSql +
      """, chain AS (
        |  SELECT ss_store_sk, ss_quantity, sr_return_quantity, cs_quantity
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  JOIN (SELECT cs_customer_sk, cs_quantity, cs_sold_date_sk
        |        FROM catalog_sales
        |        JOIN date_dim dd2 ON cs_sold_date_sk = dd2.d_date_sk
        |        WHERE dd2.d_year = 2000) cs
        |    ON sr_customer_sk = cs_customer_sk
        |    AND cs_sold_date_sk > sr_returned_date_sk
        |  WHERE d_year = 2000 AND d_qoy = 1)
        |SELECT s_state, count(*) AS cnt,
        |  sum(ss_quantity)::BIGINT AS ss_qty_sum,
        |  sum(ss_quantity * ss_quantity)::BIGINT AS ss_qty_sumsq,
        |  sum(sr_return_quantity)::BIGINT AS sr_qty_sum,
        |  sum(sr_return_quantity * sr_return_quantity)::BIGINT AS sr_qty_sumsq,
        |  sum(cs_quantity)::BIGINT AS cs_qty_sum,
        |  sum(cs_quantity * cs_quantity)::BIGINT AS cs_qty_sumsq
        |FROM chain JOIN store ON ss_store_sk = s_store_sk
        |GROUP BY s_state""".stripMargin),
    "q_tpcdsgen_q25" -> (G.oracleGenSql +
      """, chain AS (
        |  SELECT ss_store_sk, ss_item_sk, ss_net_profit_c, sr_return_amt_c,
        |    cs_net_profit_c
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN store_returns ON ss_ticket_number = sr_ticket_number
        |    AND ss_item_sk = sr_item_sk
        |  JOIN (SELECT cs_customer_sk, cs_net_profit_c, cs_sold_date_sk
        |        FROM catalog_sales
        |        JOIN date_dim dd2 ON cs_sold_date_sk = dd2.d_date_sk
        |        WHERE dd2.d_year = 2001) cs
        |    ON sr_customer_sk = cs_customer_sk
        |    AND cs_sold_date_sk > sr_returned_date_sk
        |  WHERE d_year = 2001 AND d_moy BETWEEN 4 AND 6)
        |SELECT ss_item_sk, s_store_name,
        |  sum(ss_net_profit_c)::BIGINT AS store_sales_profit,
        |  sum(sr_return_amt_c)::BIGINT AS store_returns_loss,
        |  sum(cs_net_profit_c)::BIGINT AS catalog_sales_profit
        |FROM chain JOIN store ON ss_store_sk = s_store_sk
        |GROUP BY 1, 2""".stripMargin))
}
