package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ParquetFooters

/** A deterministic TPC-DS data GENERATOR plus REAL TPC-DS queries over
  * the generated star schema — the container ships no TPC-DS corpus
  * (the one residue the shape battery in [[TpcdsQueries]] can't
  * close), so the generator closes it from the other side: every
  * column is a CLOSED-FORM integer function of a dense surrogate id,
  * which means (a) generation is a map-only projection over
  * `spark.range` — embarrassingly parallel, zero shuffle, any scale —
  * and (b) the DuckDB oracle can regenerate the identical tables from
  * `unnest(range(...))` CTEs and run the SAME query text, so the
  * results are hash-checked end to end, not rows-only. The reference
  * gates on generated TPC-DS data the same way
  * (flink-end-to-end-tests/flink-tpcds-test/.../TpcdsTestProgram
  * .java:76-85 runs the 103 variants over dsdgen output); dsdgen's
  * RNG streams aren't portable across engines, so this generator
  * trades its distributions for multiplicative-hash columns that ARE.
  *
  * The fact volume scales with the host corpus (|store_sales| =
  * |lineitem|), so sf dials and ScaleProbe's replication dial both
  * move it; dimensions stay fixed-size (the star-schema contract that
  * makes every dim join a broadcast).
  *
  * The schema covers three sales channels (store / catalog / web,
  * each with its returns fact), weekly inventory snapshots at
  * (item × warehouse) grain, and the full dim ring (date with
  * dow/week/quarter, item, customer+zip, store, promotion,
  * household_demographics, time, warehouse, ship_mode, call_center,
  * web_site). This object holds the first 14 query texts;
  * [[TpcdsGen2]] and [[TpcdsGen3]] hold the other 85 (99 real TPC-DS
  * queries total, every one hash-checked against DuckDB regenerating
  * these tables). Each text is written once, as its DuckDB oracle
  * body, and Spark runs the same text ([[TpcdsSqlText]]).
  * Money stays integer CENTS everywhere so no engine ever rounds.
  */
object TpcdsGen {

  val N_DATES = 1825L  // five 365-day "years", 1998..2002 (5²·73 —
                       // coprime to the basket cycle 11 and to every
                       // date mixer 131/127/113; the fifth year backs
                       // the published year+1 comparisons, q2-style)
  val N_ITEMS = 1000L
  val N_CUSTS = 2000L
  val N_STORES = 12L
  val N_PROMOS = 30L
  val N_HDEMO = 720L
  val N_WH = 5L
  val N_SHIPMODES = 20L
  val N_CC = 6L
  val N_WEBSITES = 20L
  val N_ADDR = 499L     // prime: ca_city/ca_zip residues decouple from
                        // every customer/ticket mixer (mod-40 city
                        // matches occur at the ~1/40 natural rate
                        // instead of never — the r13 q61 lesson)
  val N_IB = 20L        // income bands, 10k-wide
  val N_REASONS = 36L
  val N_CD = 700L       // customer_demographics: the 2×5×7×10 cross
                        // product of gender × marital × education ×
                        // dep_count, so every published (g, m, e)
                        // filter combination exists by construction
  val N_WP = 60L        // web_page
  val N_CP = 100L       // catalog_page
  val INV_WEEKS = 209L                       // weekly snapshots, 1..1457
  val INV_ROWS = INV_WEEKS * N_ITEMS * N_WH  // 1,045,000 — fixed-size

  /** store_sales line count — scales with the host corpus. Cached by
    * DIR alone (r14 advisory): the count is a property of the data,
    * not the session, so keying by session both retained every
    * benchmark session forever AND missed across the fresh-session-
    * per-query batteries. A dir's parquet is never rewritten within a
    * run (the test corpus is driver-generated, read-only), so no
    * mtime invalidation is needed. The count is read from lineitem's
    * parquet footers, so it costs no Spark job. */
  private val nSalesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[operators] def nSales(s: SparkSession, dir: String): Long =
    nSalesCache.computeIfAbsent(dir,
      _ => ParquetFooters.rowCount(s, s"$dir/lineitem.parquet")).longValue()

  // ---- multi-line ticket structure (r14) ---------------------------
  //
  // store_sales is a BASKET fact: line ids stay dense 1..n (zero id
  // waste, |store_sales| = |lineitem| exactly), and every block of 65
  // consecutive lines folds into 11 tickets with sizes
  // [1,2,3,4,5,2,4,3,5,16,20] — nine small baskets (the published
  // q73 `cnt BETWEEN 1 AND 5` band) and two large ones (the published
  // q34 `cnt BETWEEN 15 AND 20` band). Ticket-level attributes (date,
  // time, customer, store, hdemo, address) are closed forms of the
  // ticket number; line-level attributes (item, quantity, prices,
  // promo) stay closed forms of the line id, so (ticket, item) is
  // unique (137·k mod 1000 ≠ 0 for 0 < k < 20 consecutive lines).
  // The ticket cycle length 11 is coprime to every ticket-mixer
  // modulus (1825, 2000, 12, 720, 700, 499), so basket size never couples
  // to any dimension attribute.

  val BASKET_SIZES: Vector[Int] = Vector(1, 2, 3, 4, 5, 2, 4, 3, 5, 16, 20)
  val BASKET_CUM: Vector[Int] = BASKET_SIZES.scanLeft(0)(_ + _) // last = 65
  val BLOCK_LINES: Int = BASKET_CUM.last                        // 65
  val BLOCK_TICKETS: Int = BASKET_SIZES.size                    // 11

  /** CASE mapping the 0-based slot within a block to the 0-based
    * ticket index — valid SQL in both Spark and DuckDB. */
  private def slotToTicket(r: String): String =
    BASKET_CUM.tail.init.zipWithIndex
      .map { case (c, i) => s"WHEN $r < $c THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${BLOCK_TICKETS - 1} END")

  /** Ticket number from a line id; `intDiv` is `div` (Spark) or `//`
    * (DuckDB). */
  private[graft] def ticketExpr(intDiv: String): String =
    s"((id - 1) $intDiv $BLOCK_LINES) * $BLOCK_TICKETS + " +
      s"(${slotToTicket(s"((id - 1) % $BLOCK_LINES)")}) + 1"

  /** The Spark-side ticket expression: the same slot→ticket table as
    * [[slotToTicket]]'s CASE, folded into a 65-entry literal array
    * with an `element_at` lookup — both forms are GENERATED from
    * [[BASKET_CUM]], so they cannot drift, but the array form keeps
    * Catalyst analysis O(1) in the basket structure where the CASE
    * (inlined by CollapseProject into every ticket-level column)
    * charged every generator query ~0.15 s of per-plan analysis and
    * ~25% extra codegen work per scan (measured r14; the 183-row
    * battery paid ~20 s per run for it). DuckDB keeps the CASE text:
    * it analyzes once per oracle run and a literal list would need a
    * dialect-specific bracket syntax anyway.
    */
  private[graft] def ticketExprSpark: String = {
    val lut = (0 until BLOCK_LINES)
      .map(r => BASKET_CUM.tail.init.count(_ <= r)).mkString(",")
    s"((id - 1) div $BLOCK_LINES) * $BLOCK_TICKETS + " +
      s"element_at(array($lut), cast((id - 1) % $BLOCK_LINES as int) + 1) + 1"
  }

  /** store_sales closed forms — (column, sql); the sql references
    * `id` (line) and `tk` (ticket) and is the SINGLE source of truth:
    * the same strings expand in Spark (`expr`) and in the DuckDB
    * oracle CTE, so the two engines cannot drift. */
  private val SS_COLS: Seq[(String, String)] = Seq(
    "ss_ticket_number"     -> "tk",
    "ss_sold_date_sk"      -> s"tk*131 % $N_DATES + 1",
    "ss_sold_time_sk"      -> "tk*173 % 86400",
    // the daily-deal stripe: every ticket's FIRST line (block offsets
    // = the basket boundaries, so exactly one line per ticket — the
    // (ticket, item) key stays effectively unique) sells the day's
    // featured item, a pure function of the sold date. q23b's
    // `having count(*) > 4` per (item, sold-day) is unreachable under
    // independent item mixers (~0.03 expected repeats per pair); the
    // featured line gives each day one item at tickets-per-day depth.
    "ss_item_sk"           ->
      (s"CASE WHEN (id-1) % $BLOCK_LINES IN (${BASKET_CUM.init.mkString(",")}) " +
        s"THEN ((tk*131 % $N_DATES + 1)*7) % $N_ITEMS + 1 " +
        s"ELSE id*137 % $N_ITEMS + 1 END"),
    "ss_customer_sk"       -> s"tk*139 % $N_CUSTS + 1",
    "ss_hdemo_sk"          -> s"tk*29 % $N_HDEMO + 1",
    "ss_addr_sk"           -> s"CASE WHEN tk % 53 = 0 THEN NULL ELSE tk*37 % $N_ADDR + 1 END",
    // home-store preference: 40% of tickets shop at the store local to
    // the customer's address (addr a's local store = a*7 % 12 + 1,
    // matching ca_zip's metro form) — q24's s_zip = ca_zip join needs
    // customers who actually shop where they live
    "ss_store_sk"          ->
      (s"CASE WHEN tk % 5 < 2 " +
        s"THEN ((tk*139 % $N_CUSTS + 1)*17 % $N_ADDR + 1)*7 % $N_STORES + 1 " +
        s"ELSE tk*7 % $N_STORES + 1 END"),
    "ss_promo_sk"          -> s"id*11 % $N_PROMOS + 1",
    "ss_quantity"          -> "id*3 % 100 + 1",
    "ss_list_price_c"      -> "id*151 % 9900 + 100",
    "ss_sales_price_c"     -> "id*149 % 9900 + 100",
    "ss_wholesale_cost_c"  -> "id*163 % 5000 + 50",
    "ss_coupon_amt_c"      -> "id*31 % 500",
    "ss_ext_sales_price_c" -> "(id*3 % 100 + 1) * (id*149 % 9900 + 100)",
    "ss_ext_list_price_c"  -> "(id*3 % 100 + 1) * (id*151 % 9900 + 100)",
    "ss_ext_tax_c"         -> "id*41 % 900",
    "ss_net_paid_c"        -> "(id*3 % 100 + 1) * (id*149 % 9900 + 100) - id*31 % 500",
    "ss_net_profit_c"      ->
      "(id*3 % 100 + 1) * (id*149 % 9900 + 100) - (id*3 % 100 + 1) * (id*163 % 5000 + 50)",
    "ss_cdemo_sk"          -> s"tk*41 % $N_CD + 1",
    "ss_ext_discount_amt_c" -> "id*29 % 1000",
    "ss_ext_wholesale_cost_c" -> "(id*3 % 100 + 1) * (id*163 % 5000 + 50)")

  /** store_returns closed forms over the internal (id, tk, ss_*)
    * frame — every 13th LINE returns part of its quantity, 1–60 days
    * after the sale, priced at its sales price. */
  /** The recall stripe: every 4th return (by return sequence) is a
    * RECALL — its item and returned date snap to a biweekly recall
    * event (event e: day 14e+4, item 17e%1000+1, e = seq*7 % 130),
    * shared VERBATIM by all three channels' return facts. q83's
    * triple-channel same-item-same-week intersect multiplies to ~0.008
    * expected rows under independent mixers; recalls are exactly the
    * real-world correlation that makes it select. Event days sit in
    * ODD calendar weeks (14e+4 → week 2e+1), which covers q83's three
    * literal weeks (131/143/151). Store recalls skip seq % 10 = 0 so
    * the r15 repurchase stripe's line-13·id source rows keep their
    * natural (item, date) — the q17/q25/q29 chain stays exact.
    * The store stripe selects on modulus 17 (coprime to the reason
    * mixer's 36 — a %4 stripe would capture EVERY reason-28 return,
    * since m ≡ 9 (mod 36) forces m ≡ 1 (mod 4), silently emptying
    * published q93's ticketed-return join). */
  private def srRecall: String =
    "(id #div# 13) % 17 IN (1,5,9,13) AND (id #div# 13) % 10 <> 0"

  private val SR_COLS: Seq[(String, String)] = Seq(
    // recall returns are store-initiated, not ticket returns: they
    // carry a NEGATIVE ticket number so no (ticket, item) join can
    // ever match one against store_sales — the q93/q24/q64 join
    // contract stays exact by construction (a recalled item could
    // otherwise coincide with another line of the same ticket)
    "sr_ticket_number"    ->
      s"CASE WHEN $srRecall THEN -(id #div# 13) ELSE ss_ticket_number END",
    "sr_item_sk"          ->
      (s"CASE WHEN $srRecall THEN (((id #div# 13)*7 % 130)*17) % $N_ITEMS + 1 " +
        "ELSE ss_item_sk END"),
    "sr_customer_sk"      -> "ss_customer_sk",
    "sr_store_sk"         -> "ss_store_sk",
    "sr_reason_sk"        -> s"id*7 % $N_REASONS + 1",
    "sr_return_quantity"  -> "id*5 % ss_quantity + 1",
    "sr_return_amt_c"     -> "(id*5 % ss_quantity + 1) * ss_sales_price_c",
    "sr_returned_date_sk" ->
      (s"CASE WHEN $srRecall THEN ((id #div# 13)*7 % 130)*14 + 4 " +
        "ELSE ss_sold_date_sk + id % 60 + 1 END"),
    "sr_cdemo_sk"         -> s"id*41 % $N_CD + 1",
    "sr_net_loss_c"       -> "id*53 % 3000 + 10")

  // ---- engine-neutral dim closed forms (r15) -----------------------
  //
  // Every dimension is ONE table of (column, sql) closed forms over a
  // dense `id`, shared VERBATIM by three consumers: the Spark star
  // writer, the legacy DuckDB regeneration prefix (both machine-
  // rendered from the same strings, so they cannot drift), and the
  // star-directory signature (a form edit re-materializes
  // automatically). `#div#` expands per engine (`div` / `//`); the
  // only genuinely dual-spelled column is d_date's calendar add.
  // Value domains use the PUBLISHED TPC-DS vocabulary (real states,
  // cities, colors, categories, demographic levels, carriers…) so the
  // published query{N}.sql filter literals hit at their natural
  // rates — the unlock for running published texts near-verbatim.

  final case class Col(name: String, spark: String, duck: String)
  private def cc(name: String, sql: String): Col = Col(name, sql, sql)

  final case class DimDef(table: String, lo: Long, hi: Long, cols: Seq[Col])

  /** Engine-neutral k-way CASE decode of a 0-based selector. */
  private def lut(sel: String, names: Seq[String]): String =
    names.init.zipWithIndex.map { case (v, i) => s"WHEN $i THEN '$v'" }
      .mkString(s"CASE ($sel) ", " ", s" ELSE '${names.last}' END")

  val STATES: Vector[String] =
    Vector("TN", "KY", "GA", "AL", "SC", "VA", "NC", "OH", "TX", "FL")
  val CITIES: Vector[String] = Vector(
    "Oakland", "Bethel", "Clinton", "Greenville", "Springdale",
    "Pleasant Hill", "Centerville", "Salem", "Lakeview", "Fairview",
    "Riverside", "Shiloh", "Union", "Wildwood", "Antioch", "Concord",
    "Georgetown", "Marion", "Midway", "Enterprise", "Friendship",
    "Glendale", "Golden", "Highland", "Jackson", "Kingston", "Lebanon",
    "Liberty", "Lincoln", "Macedonia", "Maple Grove", "Mount Olive",
    "Mount Pleasant", "New Hope", "Oak Grove", "Oak Ridge", "Plainview",
    "Red Hill", "Sulphur Springs", "Edgewood")
  val COUNTIES: Vector[String] = Vector(
    "Williamson County", "Franklin Parish", "Bronx County",
    "Orange County", "Ziebach County", "Walker County", "Daviess County",
    "Barrow County", "Rush County", "Toole County", "Jefferson County",
    "Dona Ana County", "La Porte County", "Fairfield County",
    "Gage County", "Greene County", "Huron County", "Jackson County",
    "Kandiyohi County", "Lea County", "Luce County", "Mesa County",
    // index 22 duplicates Williamson (index 0) ON PURPOSE: store
    // counties reach {11(s-1) mod 25}, and only s=1 lands on index 0 —
    // the duplicate puts a second store in the published filter
    // county (q34/q73's 'Williamson County' list) at dsdgen-like depth
    "Williamson County", "Pennington County", "Perry County")
  /** 23 colors (odd count, coprime to the selector multiplier 5, so
    * every (category, color) pair is CRT-reachable — the r16 q41
    * lesson: with the old 16-vector and multiplier 3, 'Men' forced odd
    * ids while 'floral' needed even, making the published (Men,
    * floral) combo arithmetically impossible). Includes every color
    * literal the published texts filter on that this vocabulary
    * carries: peach (q24a), saddle (q24b), powder/khaki/brown/
    * honeydew/midnight/deep/snow (q41's combo table). */
  val COLORS: Vector[String] = Vector(
    "peach", "chiffon", "purple", "burlywood", "indian", "spring",
    "floral", "medium", "light", "cyan", "slate", "blanched", "dirty",
    "saddle", "shiny", "burnished", "powder", "khaki", "brown",
    "honeydew", "midnight", "deep", "snow")
  /** 50 brands, indexed by i_brand_id − 1; the first eight carry the
    * published q53/q63 filter names. */
  val BRANDS: Vector[String] =
    Vector("scholaramalgamalg #14", "scholaramalgamalg #7",
      "exportiunivamalg #9", "scholaramalgamalg #9", "amalgimporto #1",
      "edu packscholar #1", "exportiimporto #1", "importoamalg #1") ++
      Vector.tabulate(42)(i => s"Brand#${i + 9}")
  val CATEGORIES: Vector[String] = Vector(
    "Books", "Children", "Electronics", "Home", "Jewelry", "Men",
    "Music", "Shoes", "Sports", "Women")
  val CLASSES: Vector[String] = Vector(
    "personal", "portable", "reference", "self-help", "accessories",
    "birdal", "classical", "computers", "dresses", "football",
    "fragrances", "maternity", "pants", "shirts", "stereo", "fiction",
    "romance", "mystery", "entertainments", "estate", "business",
    "parenting", "history", "consignment", "travel")
  val SIZES: Vector[String] = Vector(
    "petite", "small", "medium", "large", "extra large", "N/A", "economy")
  val UNITS: Vector[String] = Vector(
    "Each", "Pallet", "Gross", "N/A", "Unknown", "Bunch", "Ounce", "Oz",
    "Bundle", "Ton")
  val SM_TYPES: Vector[String] = Vector(
    "EXPRESS", "NEXT DAY", "OVERNIGHT", "REGULAR", "TWO DAY", "LIBRARY")
  val SM_CARRIERS: Vector[String] = Vector(
    "DHL", "BARIAN", "UPS", "FEDEX", "AIRBORNE", "USPS", "ALLIANCE",
    "LATVIAN", "TBS", "ZHOU")
  val BUY_POTENTIAL: Vector[String] = Vector(">10000", "1001-5000", "Unknown")
  val MARITAL: Vector[String] = Vector("M", "S", "D", "W", "U")
  val EDUCATION: Vector[String] = Vector(
    "Primary", "Secondary", "College", "2 yr Degree", "4 yr Degree",
    "Advanced Degree", "Unknown")
  val CREDIT: Vector[String] = Vector("Good", "High Risk", "Low Risk", "Unknown")

  /** 5-digit zip render of a 0..99 residue (the residue structure is
    * what cross-table zip joins rely on; only the rendering changed
    * from the pre-r15 'Z##' form). */
  private def zip5(residue: String): String = s"'' || (10000 + ($residue) * 899)"

  private def dimOf(table: String, lo: Long, hi: Long)(cols: (String, String)*): DimDef =
    DimDef(table, lo, hi, cols.map { case (n, e) => cc(n, e) })

  val DIM_DEFS: Seq[DimDef] = Seq(
    DimDef("date_dim", 1, N_DATES + 1, Seq(
      cc("d_date_sk", "id"),
      cc("d_year", "cast(1998 + (id-1) #div# 365 as int)"),
      cc("d_moy", "cast(((id-1) % 365) #div# 31 + 1 as int)"),
      cc("d_dom", "cast(((id-1) % 365) % 31 + 1 as int)"),
      cc("d_dow", "(id-1) % 7"),
      cc("d_day_name", lut("(id-1) % 7",
        Seq("Sunday", "Monday", "Tuesday", "Wednesday", "Thursday",
          "Friday", "Saturday"))),
      cc("d_week_seq", "(id-1) #div# 7 + 1"),
      cc("d_qoy", "((id-1) % 365) #div# 31 #div# 3 + 1"),
      Col("d_date", "date_add(DATE '1998-01-01', cast(id-1 as int))",
        "DATE '1998-01-01' + cast(id-1 as int)"),
      cc("d_month_seq", "1176 + ((id-1) #div# 365) * 12 + ((id-1) % 365) #div# 31"),
      cc("d_quarter_name",
        "(1998 + (id-1) #div# 365) || 'Q' || (((id-1) % 365) #div# 31 #div# 3 + 1)"))),
    dimOf("item", 1, N_ITEMS + 1)(
      "i_item_sk" -> "id",
      "i_brand_id" -> "id*7 % 50 + 1",
      "i_brand" -> lut("id*7 % 50", BRANDS),
      "i_category_id" -> "id*11 % 10 + 1",
      "i_category" -> lut("id*11 % 10", CATEGORIES),
      // class selector on (id div 10): a multiplicative mixer mod 25
      // shares factor 5 with the category's mod 10, making some
      // (category, class) pairs arithmetically IMPOSSIBLE — q54's
      // ('Women', 'maternity') filter was provably empty. div-10
      // decouples the residues so every pair occurs.
      "i_class_id" -> "(id #div# 10) % 25 + 1",
      "i_class" -> lut("(id #div# 10) % 25", CLASSES),
      // manufacturers come in 7-item lines ((id div 7) grain — 7 is
      // coprime to every item-attribute modulus) with ids spread by a
      // (multiplier, offset) pair chosen so the published literal
      // manufacturers exist: q3's 128, q32's 977, q92's 350, q3
      // adapted's 28, and 7 values inside q41's [738, 778] band
      "i_manufact_id" -> "((id #div# 7)*101 + 27) % 1000 + 1",
      // manufacturer NAMES are coarser than ids (9 names ≈ dsdgen's
      // ~18-items-per-manufact ratio): q41's correlated census counts
      // same-NAME items, which needs real group depth
      "i_manufact" -> "'manufact' || ((((id #div# 7)*101 + 27) % 1000 + 1) % 9)",
      // manager on the (id div 10) decade: any selector that is a
      // function of id mod 40 fixes id mod 10 (10 | 40) and hands each
      // manager a SINGLE category — published q42 (manager 1, grouped
      // by category) returned one row; decade runs span all ten
      "i_manager_id" -> "(id #div# 10) % 40 + 1",
      // multiplier 1019 (coprime to 9999), NOT a small step: the r16
      // manufact regrain makes a manufacturer 7 CONSECUTIVE ids, and a
      // small-step price mixer gives every manufacturer a ~130¢ price
      // band — published q37/q82's (manufact IN list AND price band)
      // then selects whole groups or nothing
      "i_current_price_c" -> "id*1019 % 9999 + 1",
      "i_wholesale_cost_c" -> "id*29 % 5000 + 50",
      // dollar-valued twins of the two item prices: the published
      // texts FILTER these against dollar literals (q21/q37/q82's
      // `between 0.99 and 1.49` style), which select ~nothing against
      // integer cents; both engines derive the identical double from
      // the same integer, and the published rows only filter/avg them
      // (never order-dependent sums)
      "i_current_price_d" -> "(id*1019 % 9999 + 1) / 100.0",
      "i_wholesale_cost_d" -> "(id*29 % 5000 + 50) / 100.0",
      "i_color" -> lut("id*5 % 23", COLORS),
      "i_size" -> lut("id*5 % 7", SIZES),
      // units select on (id div 10): the old `id % 10` selector was
      // IDENTICAL to the category residue (11 ≡ 1 mod 10), hard-locking
      // unit index == category index and emptying most of q41's
      // (category, units) combos
      "i_units" -> lut("(id #div# 10) % 10", UNITS),
      "i_product_name" -> "'Item' || id",
      "i_item_id" -> "'I' || id",
      "i_item_desc" -> "'Description ' || (id*7 % 997)"),
    dimOf("customer", 1, N_CUSTS + 1)(
      "c_customer_sk" -> "id",
      "c_birth_year" -> "cast(1920 + id*3 % 80 as int)",
      "c_zip" -> zip5("id*29 % 100"),
      "c_first_name" -> "'First' || (id*13 % 97)",
      "c_last_name" -> "'Last' || (id*7 % 89)",
      "c_salutation" -> "'Sal' || (id % 6)",
      "c_preferred_cust_flag" -> "CASE WHEN id % 3 = 0 THEN 'N' ELSE 'Y' END",
      // the suburban cohort (every 8th customer): demographics CLUSTER
      // in reality — these customers carry a qualifying (marital,
      // education) pair (M/Unknown for odd 16-residues, W/Advanced
      // Degree otherwise — cd ids 60/61+70k and 56/57+70k by the cd
      // closed forms), an 'Unknown' buy-potential household (hd id ≡ 2
      // mod 3) and a gmt −7 address (addr ≡ 2 mod 4). Without the
      // cohort, q91's joint filter (cd × hd × ca over a 31-day
      // cr window) multiplies to ~0.07 expected rows at sf0.01 —
      // the same independence collapse the r15 repurchase stripe
      // fixed for the q17/q25/q29 chains
      "c_current_addr_sk" ->
        s"CASE WHEN id % 8 = 1 THEN 2 + 4*(id*17 % 125) ELSE id*17 % $N_ADDR + 1 END",
      "c_current_hdemo_sk" ->
        s"CASE WHEN id % 8 = 1 THEN 2 + 3*(id*23 % 240) ELSE id*23 % $N_HDEMO + 1 END",
      "c_birth_month" -> "id*5 % 12 + 1",
      "c_birth_country" -> "'Country' || (id*31 % 12)",
      "c_customer_id" -> "'C' || id",
      "c_email_address" -> "'c' || id || '@example.com'",
      "c_login" -> "'login' || id",
      "c_current_cdemo_sk" ->
        (s"CASE WHEN id % 16 = 1 THEN 60 + ((id #div# 16) % 10)*70 + (id #div# 2) % 2 " +
          s"WHEN id % 8 = 1 THEN 56 + ((id #div# 16) % 10)*70 + (id #div# 2) % 2 " +
          s"ELSE id*11 % $N_CD + 1 END"),
      "c_birth_day" -> "id*7 % 28 + 1",
      "c_last_review_date_sk" -> s"id*3 % $N_DATES + 1",
      "c_first_sales_date_sk" -> s"id*7 % $N_DATES + 1",
      "c_first_shipto_date_sk" -> s"id*13 % $N_DATES + 1"),
    dimOf("customer_address", 1, N_ADDR + 1)(
      "ca_address_sk" -> "id",
      "ca_city" -> lut("id*7 % 40", CITIES),
      "ca_county" -> lut("id*11 % 25", COUNTIES),
      "ca_state" -> lut("id*3 % 10", STATES),
      // metro zips: 60% of addresses share the zip of their LOCAL
      // store (addr a's local store = a*7 % 12 + 1) — q24's
      // "customer lives in the store's zip" join selects at ~0.01%
      // under independent 100-residue zips but ~1/50 here, the
      // real-world zips-cluster-around-stores shape
      "ca_zip" -> (s"CASE WHEN id % 5 < 3 THEN ${zip5(s"(id*7 % $N_STORES + 1)*53 % 100")} " +
        s"ELSE ${zip5("id*29 % 100")} END"),
      "ca_country" -> "'Country' || (id % 12)",
      "ca_gmt_offset" -> "-5 - (id % 4)",
      "ca_street_number" -> "'' || (id % 1000 + 1)",
      "ca_street_name" -> "'Street' || (id*3 % 100)",
      "ca_street_type" -> lut("id % 5", Seq("Street", "Ave", "Blvd", "Way", "Ct")),
      "ca_suite_number" -> "'Suite ' || (id % 100)",
      "ca_location_type" -> lut("id % 3", Seq("apartment", "condo", "single family"))),
    dimOf("income_band", 1, N_IB + 1)(
      "ib_income_band_sk" -> "id",
      "ib_lower_bound" -> "(id-1) * 10000",
      "ib_upper_bound" -> "id * 10000 - 1"),
    dimOf("reason", 1, N_REASONS + 1)(
      "r_reason_sk" -> "id",
      "r_reason_desc" -> "'reason ' || id"),
    dimOf("household_demographics", 1, N_HDEMO + 1)(
      "hd_demo_sk" -> "id",
      "hd_dep_count" -> "id % 10",
      "hd_vehicle_count" -> "id % 5",
      "hd_buy_potential" -> lut("id % 3", BUY_POTENTIAL),
      "hd_income_band_sk" -> s"id*13 % $N_IB + 1"),
    dimOf("customer_demographics", 1, N_CD + 1)(
      "cd_demo_sk" -> "id",
      "cd_gender" -> "CASE WHEN id % 2 = 0 THEN 'M' ELSE 'F' END",
      "cd_marital_status" -> lut("(id #div# 2) % 5", MARITAL),
      "cd_education_status" -> lut("(id #div# 10) % 7", EDUCATION),
      "cd_dep_count" -> "(id #div# 70) % 10",
      "cd_purchase_estimate" -> "(id*500) % 10000 + 500",
      "cd_credit_rating" -> lut("(id*3) % 4", CREDIT),
      "cd_dep_employed_count" -> "(id*7) % 7",
      "cd_dep_college_count" -> "(id*11) % 7"),
    dimOf("time_dim", 0, 86400)(
      "t_time_sk" -> "id",
      "t_hour" -> "id #div# 3600",
      "t_minute" -> "(id % 3600) #div# 60",
      "t_second" -> "id % 60",
      "t_time" -> "id",
      "t_am_pm" -> "CASE WHEN id < 43200 THEN 'AM' ELSE 'PM' END",
      "t_meal_time" ->
        ("CASE WHEN id #div# 3600 >= 6 AND id #div# 3600 < 9 THEN 'breakfast' " +
          "WHEN id #div# 3600 >= 17 AND id #div# 3600 < 20 THEN 'dinner' " +
          "ELSE NULL END")),
    dimOf("warehouse", 1, N_WH + 1)(
      "w_warehouse_sk" -> "id",
      "w_warehouse_name" -> "'WH' || id",
      "w_state" -> lut("id % 5", STATES.take(5)),
      "w_warehouse_sq_ft" -> "id*7919 % 90000 + 10000",
      "w_city" -> lut("id*3 % 40", CITIES),
      "w_county" -> lut("id % 8", COUNTIES.take(8)),
      "w_country" -> "'United States'"),
    dimOf("ship_mode", 1, N_SHIPMODES + 1)(
      "sm_ship_mode_sk" -> "id",
      "sm_type" -> lut("id % 6", SM_TYPES),
      "sm_carrier" -> lut("id % 10", SM_CARRIERS)),
    dimOf("call_center", 1, N_CC + 1)(
      "cc_call_center_sk" -> "id",
      "cc_name" -> "'CC' || id",
      "cc_call_center_id" -> "'CCID' || id",
      "cc_county" -> lut("id % 8", COUNTIES.take(8)),
      "cc_manager" -> "'Manager' || (id % 4)"),
    dimOf("web_site", 1, N_WEBSITES + 1)(
      "web_site_sk" -> "id",
      "web_name" -> "'SITE' || (id % 8)",
      "web_site_id" -> "'WEB' || id",
      "web_company_name" -> lut("id % 6",
        Seq("pri", "able", "ese", "anti", "cally", "ought"))),
    dimOf("store", 1, N_STORES + 1)(
      "s_store_sk" -> "id",
      // store state/county use the SAME selector forms as
      // customer_address (full 10-state / 25-county ranges), so q54's
      // `ca_county = s_county AND ca_state = s_state` join matches
      // exactly the addresses ≡ store-id (mod 50) — a natural ~24%
      // customer rate where the old take(5)/take(8) selectors made
      // the pair sets provably disjoint
      // (id-1) forms so store 1 lands on county index 0 — published
      // q34/q73/q16 filter the literal 'Williamson County'
      "s_state" -> lut("(id-1)*3 % 10", STATES),
      "s_store_name" -> "'Store' || id",
      "s_city" -> lut("id*9 % 40", CITIES),
      "s_zip" -> zip5("id*53 % 100"),
      "s_number_employees" -> "150 + id*29 % 200",
      // markets span the published 1..10 domain (q24 filters market 8;
      // the old id%4+1 topped out at 4)
      "s_market_id" -> "id % 10 + 1",
      "s_store_id" -> "'S' || id",
      "s_county" -> lut("(id-1)*11 % 25", COUNTIES),
      "s_company_name" -> "'Unknown'",
      "s_company_id" -> "1",
      "s_gmt_offset" -> "-5",
      "s_street_number" -> "'' || (id % 1000 + 1)",
      "s_street_name" -> "'Street' || (id*3 % 100)",
      "s_street_type" -> "'Street'",
      "s_suite_number" -> "'Suite ' || (id % 100)"),
    dimOf("promotion", 1, N_PROMOS + 1)(
      "p_promo_sk" -> "id",
      "p_channel_email" -> "CASE WHEN id % 2 = 0 THEN 'Y' ELSE 'N' END",
      "p_channel_event" -> "CASE WHEN id % 3 = 0 THEN 'Y' ELSE 'N' END",
      "p_channel_tv" -> "CASE WHEN id % 5 = 0 THEN 'Y' ELSE 'N' END",
      "p_channel_dmail" -> "CASE WHEN id % 7 = 0 THEN 'Y' ELSE 'N' END",
      "p_promo_name" -> "'promo' || (id % 10)"),
    dimOf("web_page", 1, N_WP + 1)(
      "wp_web_page_sk" -> "id",
      "wp_char_count" -> "id*97 % 5000 + 100",
      "wp_link_count" -> "id % 25 + 2",
      "wp_url" -> "'http://www.foo.com'",
      "wp_type" -> lut("id % 4", Seq("ad", "dynamic", "protected", "order"))),
    dimOf("catalog_page", 1, N_CP + 1)(
      "cp_catalog_page_sk" -> "id",
      "cp_catalog_page_id" -> "'CP' || id",
      "cp_catalog_number" -> "id % 20 + 1",
      "cp_catalog_page_number" -> "id"),
    dimOf("inventory", 1, INV_ROWS + 1)(
      "inv_date_sk" -> s"((id-1) #div# ${N_ITEMS * N_WH}) * 7 + 1",
      "inv_item_sk" -> s"((id-1) #div# $N_WH) % $N_ITEMS + 1",
      "inv_warehouse_sk" -> s"(id-1) % $N_WH + 1",
      // product of three uniform hashes (heavy-tailed toward small
      // counts, real stockout shape): the single uniform id*53%997
      // capped sample cov at ~0.6, leaving the published q39a/b
      // `stdev/mean > 1 / > 1.5` filters PROVABLY empty — and any
      // mod-M stockout stripe is periodic in the 5000-id weekly
      // stride, so two stockouts can never land in one month's
      // 4-week window. 997 stays coprime to the stride (the r13
      // stride-degeneracy guard)
      "inv_quantity_on_hand" ->
        "((id*53 % 997) * (id*31 % 997) #div# 997) * (id*41 % 997) #div# 997"))

  /** Internal store_sales frame: line id + ticket + every published
    * column — the shared expansion behind [[storeSales]],
    * [[storeReturns]] and the streaming twin's per-batch pipeline
    * ([[TpcdsStream.q3Partial]] — one source of truth for the
    * mixers, per the r13 advisory). */
  private[operators] def ssBase(ids: DataFrame): DataFrame = {
    val base = ids.select(col(ids.columns.head).cast("bigint").as("id"))
      .withColumn("tk", expr(ticketExprSpark))
    base.select(col("id") +: col("tk") +:
      SS_COLS.map { case (c, e) => expr(e.replace("#div#", "div")).as(c) }: _*)
  }

  /** Expand store_sales from an arbitrary frame of line ids — the
    * streaming twin micro-batches through this. */
  def storeSalesFromIds(ids: DataFrame): DataFrame =
    ssBase(ids).drop("id", "tk")

  private[operators] def genStoreSales(s: SparkSession, n: Long): DataFrame =
    storeSalesFromIds(s.range(1, n + 1).toDF("id"))

  /** Expand store_returns from an arbitrary frame of line ids (the
    * non-returning lines drop out) — the streaming returns twin
    * micro-batches through this. */
  def storeReturnsFromIds(ids: DataFrame): DataFrame =
    ssBase(ids)
      .where(col("id") % 13 === 0)
      .select(SR_COLS.map { case (c, e) =>
        expr(e.replace("#div#", "div")).as(c) }: _*)

  /** Every 13th line returns part of its quantity, 1–60 days after
    * the sale, priced at its sales price. */
  private[operators] def genStoreReturns(s: SparkSession, n: Long): DataFrame =
    storeReturnsFromIds(s.range(1, n + 1).toDF("id"))

  // ---- public star-schema surface: digest-gated parquet ----------
  //
  // Every table the queries touch reads the scratch parquet that
  // TpcdsStar materialized from the gen* closed forms (once per fact
  // volume) — the r15 redesign replacing the per-query closed-form
  // re-derivation (r14 verdict: ~17% warm / ~2× in-battery expression
  // tax, and a WeakHashMap plan cache whose DataFrame values pinned
  // their key sessions for the JVM lifetime). A parquet scan needs no
  // per-session cache at all: analysis is one file-listing + a cached
  // schema, and the data path gains real columnar pruning + pushdown.

  def storeSales(s: SparkSession, n: Long): DataFrame =
    TpcdsStar.fact(s, n, "store_sales")
  def storeReturns(s: SparkSession, n: Long): DataFrame =
    TpcdsStar.fact(s, n, "store_returns")
  def catalogSales(s: SparkSession, n: Long): DataFrame =
    TpcdsStar.fact(s, n, "catalog_sales")
  def catalogReturns(s: SparkSession, n: Long): DataFrame =
    TpcdsStar.fact(s, n, "catalog_returns")
  def webSales(s: SparkSession, n: Long): DataFrame =
    TpcdsStar.fact(s, n, "web_sales")
  def webReturns(s: SparkSession, n: Long): DataFrame =
    TpcdsStar.fact(s, n, "web_returns")

  def dateDim(s: SparkSession): DataFrame = TpcdsStar.dim(s, "date_dim")
  def item(s: SparkSession): DataFrame = TpcdsStar.dim(s, "item")
  def customer(s: SparkSession): DataFrame = TpcdsStar.dim(s, "customer")
  def customerAddress(s: SparkSession): DataFrame =
    TpcdsStar.dim(s, "customer_address")
  def incomeBand(s: SparkSession): DataFrame = TpcdsStar.dim(s, "income_band")
  def reason(s: SparkSession): DataFrame = TpcdsStar.dim(s, "reason")
  def householdDemographics(s: SparkSession): DataFrame =
    TpcdsStar.dim(s, "household_demographics")
  def timeDim(s: SparkSession): DataFrame = TpcdsStar.dim(s, "time_dim")
  def warehouse(s: SparkSession): DataFrame = TpcdsStar.dim(s, "warehouse")
  def shipMode(s: SparkSession): DataFrame = TpcdsStar.dim(s, "ship_mode")
  def callCenter(s: SparkSession): DataFrame = TpcdsStar.dim(s, "call_center")
  def webSite(s: SparkSession): DataFrame = TpcdsStar.dim(s, "web_site")
  def store(s: SparkSession): DataFrame = TpcdsStar.dim(s, "store")
  def promotion(s: SparkSession): DataFrame = TpcdsStar.dim(s, "promotion")
  def inventory(s: SparkSession): DataFrame = TpcdsStar.dim(s, "inventory")
  def customerDemographics(s: SparkSession): DataFrame =
    TpcdsStar.dim(s, "customer_demographics")
  def webPage(s: SparkSession): DataFrame = TpcdsStar.dim(s, "web_page")
  def catalogPage(s: SparkSession): DataFrame = TpcdsStar.dim(s, "catalog_page")

  /** Closed-form generator dispatch for [[TpcdsStar]]'s writer —
    * dims render straight from [[DIM_DEFS]]. */
  private[operators] def genDim(s: SparkSession, name: String): DataFrame = {
    val d = DIM_DEFS.find(_.table == name)
      .getOrElse(sys.error(s"unknown dim $name"))
    s.range(d.lo, d.hi).toDF("id")
      .select(d.cols.map(c0 =>
        expr(c0.spark.replace("#div#", "div")).as(c0.name)): _*)
  }

  private[operators] def genFact(s: SparkSession, name: String, n: Long): DataFrame =
    name match {
      case "store_sales" => genStoreSales(s, n)
      case "store_returns" => genStoreReturns(s, n)
      case "catalog_sales" => genCatalogSales(s, n)
      case "catalog_returns" => genCatalogReturns(s, n)
      case "web_sales" => genWebSales(s, n)
      case "web_returns" => genWebReturns(s, n)
    }

  /** String-typed closed forms feeding [[TpcdsStar]]'s directory
    * signatures — any form edit re-materializes automatically. */
  private[operators] def factGenSignature: Seq[String] =
    ticketExprSpark +:
      (SS_COLS ++ SR_COLS ++ CS_COLS ++ CR_COLS ++ WS_COLS ++ WR_COLS)
        .map { case (c0, e) => s"$c0=$e" }
  private[operators] def dimGenSignature: Seq[String] =
    DIM_DEFS.flatMap(d =>
      s"${d.table}[${d.lo},${d.hi})" +:
        d.cols.map(c0 => s"${c0.name}=${c0.spark}|${c0.duck}"))

  // ---- the two shipping channels: closed forms over the order id ---
  // ship dates run past the sold date by up to ~3 months, BEYOND the
  // date_dim domain tail — they are lag operands (q62/q99 band on
  // ship - sold), never date_dim join keys; a query joining date_dim
  // on the SHIP date would silently drop late-calendar rows.

  // ---- the repurchase stripe (r15) ---------------------------------
  //
  // Every 10th catalog order REPURCHASES a store return: it copies the
  // (customer, item) of store LINE 13·id (a returning line whenever
  // 13·id lands inside the store fact) and is dated shortly after that
  // line's return. Without the stripe the published sale→return→
  // repurchase chains (q17/q25/q29) are vacuous — independent channel
  // mixers multiply the three-way (customer, item, window) joint
  // selectivity to ~0 — which is dsdgen's lesson too: real cross-
  // channel behavior is correlated, not independent. The stripe's
  // closed forms reuse the store mixers verbatim (substituting 13·id
  // for the line id), so the chain is exact by construction and both
  // engines derive it from the same strings.

  /** The store ticket expression evaluated at line 13·id — engine-
    * split on `#div#` like the dim forms. */
  private def tk13: String =
    "(" + ticketExpr("#div#").replaceAll("\\bid\\b", "(id*13)") + ")"

  /** Store line 13·id's return date: sold + lag (the SR closed form
    * at that line). */
  private def ret13: String =
    s"($tk13*131 % $N_DATES + 1) + ((id*13) % 60 + 1)"

  /** Store line 13·id's ITEM — mirrors the daily-deal first-line
    * override in [[SS_COLS]], substituting 13·id for the line id, so
    * the repurchase stripe keeps copying the exact store item. */
  private def item13: String =
    s"(CASE WHEN ((id*13)-1) % $BLOCK_LINES IN (${BASKET_CUM.init.mkString(",")}) " +
      s"THEN (($tk13*131 % $N_DATES + 1)*7) % $N_ITEMS + 1 " +
      s"ELSE (id*13)*137 % $N_ITEMS + 1 END)"

  /** catalog_sales closed forms over the dense order id (`id`) —
    * half store volume, its own key mixers (plus the repurchase
    * stripe above), so channel overlaps are non-trivial. */
  private val CS_COLS: Seq[(String, String)] = Seq(
    "cs_order_number"       -> "id",
    // stripe orders land 1–30 days after their return, wrapped into
    // the calendar domain (wrapped rows simply fail the chain's
    // date-order filters — a sliver of the 10% stripe)
    // the registry stripe (id % 25 = 2, disjoint from the repurchase
    // stripe's id % 10 = 0): these orders buy one of the four
    // ('Women', 'maternity') items in a December. q54's Dec-1998
    // maternity-buyer cohort is ~1.5 expected customers under
    // independent mixers (4 items × a 24-day window); the stripe is
    // the seasonal-gift correlation that makes it a real cohort. The
    // stripe overrides the CUSTOMER too: the natural id*141 mixer,
    // restricted to the stripe's Dec-1998 subsequence (step 250),
    // strides into gcd(250·141, 2000) → only 8 distinct customers.
    "cs_sold_date_sk"       ->
      (s"CASE WHEN id % 10 = 0 THEN ($ret13 + id % 30) % $N_DATES + 1 " +
        s"WHEN id % 25 = 2 THEN ((id #div# 25) % 5)*365 + 342 + (id*7 % 24) " +
        s"ELSE id*127 % $N_DATES + 1 END"),
    "cs_item_sk"            ->
      (s"CASE WHEN id % 10 = 0 THEN $item13 " +
        s"WHEN id % 25 = 2 THEN 119 + 250*((id #div# 25) % 4) " +
        s"ELSE id*133 % $N_ITEMS + 1 END"),
    "cs_customer_sk"        ->
      (s"CASE WHEN id % 10 = 0 THEN $tk13*139 % $N_CUSTS + 1 " +
        s"WHEN id % 25 = 2 THEN (id #div# 25)*7 % $N_CUSTS + 1 " +
        s"ELSE id*141 % $N_CUSTS + 1 END"),
    "cs_quantity"           -> "id*5 % 100 + 1",
    "cs_sales_price_c"      -> "id*157 % 9900 + 100",
    "cs_sold_time_sk"       -> "id*191 % 86400",
    "cs_warehouse_sk"       -> s"id*31 % $N_WH + 1",
    "cs_ship_mode_sk"       -> s"id*43 % $N_SHIPMODES + 1",
    "cs_call_center_sk"     -> s"id*47 % $N_CC + 1",
    "cs_promo_sk"           -> s"id*11 % $N_PROMOS + 1",
    "cs_ext_discount_amt_c" -> "id*59 % 5000",
    "cs_wholesale_cost_c"   -> "id*193 % 5000 + 50",
    "cs_ship_addr_sk"       ->
      s"CASE WHEN id % 37 = 0 THEN NULL ELSE id*97 % $N_ADDR + 1 END",
    // ship = sold + lag, following the stripe CASE so shipping stays
    // strictly after selling on every order
    "cs_ship_date_sk"       ->
      (s"(CASE WHEN id % 10 = 0 THEN ($ret13 + id % 30) % $N_DATES + 1 " +
        s"WHEN id % 25 = 2 THEN ((id #div# 25) % 5)*365 + 342 + (id*7 % 24) " +
        s"ELSE id*127 % $N_DATES + 1 END) + id % 90 + 2"),
    "cs_ext_sales_price_c"  -> "(id*5 % 100 + 1) * (id*157 % 9900 + 100)",
    "cs_net_profit_c"       ->
      "(id*5 % 100 + 1) * (id*157 % 9900 + 100) - (id*5 % 100 + 1) * (id*193 % 5000 + 50)",
    "cs_bill_cdemo_sk"      -> s"id*61 % $N_CD + 1",
    "cs_bill_hdemo_sk"      -> s"id*29 % $N_HDEMO + 1",
    "cs_bill_addr_sk"       ->
      s"CASE WHEN id % 41 = 0 THEN NULL ELSE id*73 % $N_ADDR + 1 END",
    "cs_ship_customer_sk"   -> s"id*89 % $N_CUSTS + 1",
    "cs_list_price_c"       -> "id*151 % 9900 + 100",
    "cs_ext_list_price_c"   -> "(id*5 % 100 + 1) * (id*151 % 9900 + 100)",
    "cs_ext_wholesale_cost_c" -> "(id*5 % 100 + 1) * (id*193 % 5000 + 50)",
    "cs_coupon_amt_c"       -> "id*37 % 500",
    "cs_net_paid_c"         -> "(id*5 % 100 + 1) * (id*157 % 9900 + 100) - id*37 % 500",
    "cs_net_paid_inc_tax_c" ->
      "(id*5 % 100 + 1) * (id*157 % 9900 + 100) - id*37 % 500 + id*43 % 900",
    "cs_ext_ship_cost_c"    -> "id*67 % 2000",
    "cs_ext_tax_c"          -> "id*43 % 900",
    "cs_catalog_page_sk"    -> s"id*17 % $N_CP + 1")

  /** catalog_returns closed forms over the catalog_sales frame —
    * every 7th order returns part of its quantity (~14%, the dsdgen-like catalog return rate; r16 raised it from 1/17 so published q64's cs_ui item census covers the item domain). */
  private val CR_COLS: Seq[(String, String)] = Seq(
    "cr_order_number"       -> "cs_order_number",
    "cr_item_sk"            ->
      (s"CASE WHEN (cs_order_number #div# 7) % 4 = 1 " +
        s"THEN (((cs_order_number #div# 7)*7 % 130)*17) % $N_ITEMS + 1 " +
        "ELSE cs_item_sk END"),
    "cr_customer_sk"        -> "cs_customer_sk",
    "cr_return_quantity"    -> "cs_order_number*5 % cs_quantity + 1",
    "cr_return_amt_c"       -> "(cs_order_number*5 % cs_quantity + 1) * cs_sales_price_c",
    "cr_returned_date_sk"   ->
      (s"CASE WHEN (cs_order_number #div# 7) % 4 = 1 " +
        s"THEN ((cs_order_number #div# 7)*7 % 130)*14 + 4 " +
        "ELSE cs_sold_date_sk + cs_order_number % 60 + 1 END"),
    "cr_returning_customer_sk" -> s"cs_order_number*91 % $N_CUSTS + 1",
    "cr_returning_addr_sk"  -> s"cs_order_number*37 % $N_ADDR + 1",
    "cr_call_center_sk"     -> "cs_call_center_sk",
    "cr_catalog_page_sk"    -> "cs_catalog_page_sk",
    "cr_reason_sk"          -> s"cs_order_number*7 % $N_REASONS + 1",
    "cr_net_loss_c"         -> "cs_order_number*59 % 3000 + 10",
    "cr_refunded_cash_c"    -> "cs_order_number*29 % 2000",
    "cr_reversed_charge_c"  -> "cs_order_number*43 % 2000",
    "cr_store_credit_c"     -> "cs_order_number*47 % 1500",
    "cr_return_amt_inc_tax_c" ->
      "(cs_order_number*5 % cs_quantity + 1) * cs_sales_price_c + cs_order_number % 97")

  /** web_sales closed forms over the dense order id — quarter store
    * volume, its own mixers. */
  private val WS_COLS: Seq[(String, String)] = Seq(
    "ws_order_number"       -> "id",
    "ws_sold_date_sk"       -> s"id*113 % $N_DATES + 1",
    "ws_sold_time_sk"       -> "id*181 % 86400",
    "ws_item_sk"            -> s"id*119 % $N_ITEMS + 1",
    "ws_bill_customer_sk"   -> s"id*143 % $N_CUSTS + 1",
    "ws_hdemo_sk"           -> s"id*23 % $N_HDEMO + 1",
    "ws_warehouse_sk"       -> s"id*31 % $N_WH + 1",
    "ws_ship_mode_sk"       -> s"id*41 % $N_SHIPMODES + 1",
    "ws_web_site_sk"        -> s"id*37 % $N_WEBSITES + 1",
    "ws_quantity"           -> "id*7 % 100 + 1",
    "ws_sales_price_c"      -> "id*167 % 9900 + 100",
    "ws_ext_discount_amt_c" -> "id*61 % 5000",
    "ws_wholesale_cost_c"   -> "id*179 % 5000 + 50",
    "ws_ship_customer_sk"   ->
      s"CASE WHEN id % 43 = 0 THEN NULL ELSE id*147 % $N_CUSTS + 1 END",
    "ws_ship_date_sk"       -> s"id*113 % $N_DATES + 1 + id % 120 + 2",
    "ws_ext_sales_price_c"  -> "(id*7 % 100 + 1) * (id*167 % 9900 + 100)",
    "ws_net_profit_c"       ->
      "(id*7 % 100 + 1) * (id*167 % 9900 + 100) - (id*7 % 100 + 1) * (id*179 % 5000 + 50)",
    "ws_bill_cdemo_sk"      -> s"id*79 % $N_CD + 1",
    "ws_bill_addr_sk"       ->
      s"CASE WHEN id % 47 = 0 THEN NULL ELSE id*53 % $N_ADDR + 1 END",
    "ws_ship_addr_sk"       -> s"id*59 % $N_ADDR + 1",
    "ws_ship_hdemo_sk"      -> s"id*67 % $N_HDEMO + 1",
    "ws_ship_cdemo_sk"      -> s"id*83 % $N_CD + 1",
    "ws_web_page_sk"        -> s"id*13 % $N_WP + 1",
    "ws_promo_sk"           -> s"id*11 % $N_PROMOS + 1",
    "ws_list_price_c"       -> "id*151 % 9900 + 100",
    "ws_ext_list_price_c"   -> "(id*7 % 100 + 1) * (id*151 % 9900 + 100)",
    "ws_ext_wholesale_cost_c" -> "(id*7 % 100 + 1) * (id*179 % 5000 + 50)",
    "ws_ext_ship_cost_c"    -> "id*71 % 2000",
    "ws_ext_tax_c"          -> "id*47 % 900",
    "ws_coupon_amt_c"       -> "id*31 % 500",
    "ws_net_paid_c"         -> "(id*7 % 100 + 1) * (id*167 % 9900 + 100) - id*31 % 500",
    "ws_net_paid_inc_tax_c" ->
      "(id*7 % 100 + 1) * (id*167 % 9900 + 100) - id*31 % 500 + id*47 % 900")

  /** web_returns closed forms over the web_sales frame — every 11th
    * order returns part of its quantity. */
  private val WR_COLS: Seq[(String, String)] = Seq(
    "wr_order_number"       -> "ws_order_number",
    "wr_item_sk"            ->
      (s"CASE WHEN (ws_order_number #div# 11) % 4 = 1 " +
        s"THEN (((ws_order_number #div# 11)*7 % 130)*17) % $N_ITEMS + 1 " +
        "ELSE ws_item_sk END"),
    "wr_refunded_customer_sk" -> "ws_bill_customer_sk",
    "wr_reason_sk"          -> s"ws_order_number*7 % $N_REASONS + 1",
    "wr_return_quantity"    -> "ws_order_number*3 % ws_quantity + 1",
    "wr_return_amt_c"       -> "(ws_order_number*3 % ws_quantity + 1) * ws_sales_price_c",
    "wr_returned_date_sk"   ->
      (s"CASE WHEN (ws_order_number #div# 11) % 4 = 1 " +
        s"THEN ((ws_order_number #div# 11)*7 % 130)*14 + 4 " +
        "ELSE ws_sold_date_sk + ws_order_number % 45 + 1 END"),
    "wr_returning_customer_sk" -> s"ws_order_number*47 % $N_CUSTS + 1",
    "wr_refunded_addr_sk"   -> s"ws_order_number*51 % $N_ADDR + 1",
    "wr_returning_addr_sk"  -> s"ws_order_number*43 % $N_ADDR + 1",
    "wr_refunded_cdemo_sk"  -> s"ws_order_number*53 % $N_CD + 1",
    "wr_returning_cdemo_sk" -> s"ws_order_number*57 % $N_CD + 1",
    "wr_web_page_sk"        -> s"ws_order_number*13 % $N_WP + 1",
    "wr_fee_c"              -> "ws_order_number % 100 + 1",
    "wr_refunded_cash_c"    -> "ws_order_number*29 % 2000",
    "wr_net_loss_c"         -> "ws_order_number*61 % 3000 + 10")

  def genCatalogSales(s: SparkSession, n: Long): DataFrame =
    s.range(1, n / 2 + 1).toDF("id")
      .select(CS_COLS.map { case (c0, e) =>
        expr(e.replace("#div#", "div")).as(c0) }: _*)

  private[operators] def genCatalogReturns(s: SparkSession, n: Long): DataFrame =
    genCatalogSales(s, n)
      .where(col("cs_order_number") % 7 === 0)
      .select(CR_COLS.map { case (c0, e) =>
        expr(e.replace("#div#", "div")).as(c0) }: _*)

  def genWebSales(s: SparkSession, n: Long): DataFrame =
    s.range(1, n / 4 + 1).toDF("id")
      .select(WS_COLS.map { case (c0, e) =>
        expr(e.replace("#div#", "div")).as(c0) }: _*)

  private[operators] def genWebReturns(s: SparkSession, n: Long): DataFrame =
    genWebSales(s, n)
      .where(col("ws_order_number") % 11 === 0)
      .select(WR_COLS.map { case (c0, e) =>
        expr(e.replace("#div#", "div")).as(c0) }: _*)

  /** The shared DuckDB CTE prefix — every query's oracle SQL starts
    * with this. Since r15 it reads the digest-gated parquet star
    * [[TpcdsStar]] materialized (the same files Spark scans — the
    * gate reads generated FILES, like the reference's
    * TpcdsTestProgram); the closed-form regeneration text below
    * remains as the fallback for a JVM that inspects oracle text
    * without ever materializing (Verify always materializes before
    * dumping, so the dumped oracle is always the file form). Both
    * prefixes end with `)\n` so the per-query bodies compose
    * identically.
    */
  def oracleGenSql: String =
    TpcdsStar.oraclePrefix.getOrElse(legacyOracleGenSql)

  private def duckExpr(e: String): String = e.replace("#div#", "//")

  private def dimCte(d: DimDef): String = {
    val cols = d.cols.map(c0 => s"    ${duckExpr(c0.duck)} AS ${c0.name}")
      .mkString(",\n")
    s"${d.table} AS (\n  SELECT\n$cols\n  FROM (SELECT unnest(range(${d.lo}, ${d.hi})) AS id))"
  }

  private def factColsSql(cols: Seq[(String, String)]): String =
    cols.map { case (c0, e) => s"    ${duckExpr(e)} AS $c0" }.mkString(",\n")

  private[operators] def legacyOracleGenSql: String = {
    val parts = Seq(
      "ids AS (\n  SELECT unnest(range(1, (SELECT count(*)+1 FROM lineitem)::BIGINT)) AS id)",
      s"ss_cols AS (\n  SELECT id, ${ticketExpr("//")} AS tk FROM ids)",
      s"ss_full AS (\n  SELECT id, tk,\n${factColsSql(SS_COLS)}\n  FROM ss_cols)",
      s"store_sales AS (\n  SELECT ${SS_COLS.map(_._1).mkString(", ")}\n  FROM ss_full)",
      s"store_returns AS (\n  SELECT\n${factColsSql(SR_COLS)}\n  FROM ss_full WHERE id % 13 = 0)") ++
      DIM_DEFS.map(dimCte) ++ Seq(
      s"catalog_sales AS (\n  SELECT\n${factColsSql(CS_COLS)}\n  FROM (SELECT unnest(range(1, (SELECT count(*)//2+1 FROM lineitem)::BIGINT)) AS id))",
      s"catalog_returns AS (\n  SELECT\n${factColsSql(CR_COLS)}\n  FROM catalog_sales WHERE cs_order_number % 7 = 0)",
      s"web_sales AS (\n  SELECT\n${factColsSql(WS_COLS)}\n  FROM (SELECT unnest(range(1, (SELECT count(*)//4+1 FROM lineitem)::BIGINT)) AS id))",
      s"web_returns AS (\n  SELECT\n${factColsSql(WR_COLS)}\n  FROM web_sales WHERE ws_order_number % 11 = 0)")
    "WITH " + parts.mkString(",\n") + "\n"
  }

  def oracle: Map[String, String] = Map(
    "q_tpcdsgen_q74" -> (oracleGenSql +
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
        |  WHERE d_year IN (1998, 1999) GROUP BY 1)
        |SELECT ssy.cust, ss1, ss2, cs1, cs2
        |FROM ssy JOIN csy ON ssy.cust = csy.cust
        |WHERE ss1 > 0 AND cs1 > 0 AND cs2 * ss1 > ss2 * cs1""".stripMargin),
    "q_tpcdsgen_q97" -> (oracleGenSql +
      """, dd AS (SELECT d_date_sk FROM date_dim WHERE d_year = 1998 AND d_moy = 1),
        |ssc AS (SELECT DISTINCT ss_customer_sk FROM store_sales
        |        JOIN dd ON ss_sold_date_sk = d_date_sk),
        |csc AS (SELECT DISTINCT cs_customer_sk FROM catalog_sales
        |        JOIN dd ON cs_sold_date_sk = d_date_sk)
        |SELECT
        |  sum(CASE WHEN ss_customer_sk IS NOT NULL AND cs_customer_sk IS NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS store_only,
        |  sum(CASE WHEN ss_customer_sk IS NULL AND cs_customer_sk IS NOT NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS catalog_only,
        |  sum(CASE WHEN ss_customer_sk IS NOT NULL AND cs_customer_sk IS NOT NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS both_channels
        |FROM ssc FULL OUTER JOIN csc ON ss_customer_sk = cs_customer_sk""".stripMargin),
    "q_tpcdsgen_q50" -> (oracleGenSql +
      s"""SELECT sr_store_sk,
        |  sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)::BIGINT AS d30,
        |  sum(CASE WHEN lag_days > 30 AND lag_days <= 60 THEN 1 ELSE 0 END)::BIGINT
        |    AS d31_60,
        |  sum(CASE WHEN lag_days > 60 THEN 1 ELSE 0 END)::BIGINT AS d60plus,
        |  count(*) AS n_returns
        |FROM (SELECT sr_store_sk,
        |        sr_returned_date_sk - (sr_ticket_number*131 % ${N_DATES} + 1) AS lag_days
        |      FROM store_returns)
        |GROUP BY sr_store_sk""".stripMargin),
    "q_tpcdsgen_q59" -> (oracleGenSql +
      """, weekly AS (
        |  SELECT ss_store_sk, (ss_sold_date_sk - 1) // 7 + 1 AS wk,
        |    sum(ss_ext_sales_price_c)::BIGINT AS rev
        |  FROM store_sales GROUP BY 1, 2)
        |SELECT y1.ss_store_sk AS store, y1.wk, y1.rev AS rev1, y2.rev AS rev2,
        |  (y2.rev * 1000000 // y1.rev)::BIGINT AS ratio_ppm
        |FROM weekly y1
        |JOIN weekly y2 ON y1.ss_store_sk = y2.ss_store_sk AND y2.wk = y1.wk + 52
        |WHERE y1.wk <= 52""".stripMargin),
    "q_tpcdsgen_q1" -> (oracleGenSql +
      """, ctr AS (
        |  SELECT sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
        |    sum(sr_return_amt_c)::BIGINT AS ctr_total_return
        |  FROM store_returns GROUP BY 1, 2),
        |per_store AS (
        |  SELECT ctr_store_sk AS st_sk, sum(ctr_total_return)::BIGINT AS st_sum,
        |    count(*) AS st_cnt
        |  FROM ctr GROUP BY 1)
        |SELECT ctr_customer_sk, ctr_store_sk, ctr_total_return
        |FROM ctr
        |JOIN per_store ON ctr_store_sk = st_sk
        |JOIN store ON ctr_store_sk = s_store_sk
        |WHERE ctr_total_return * st_cnt * 5 > st_sum * 6 AND s_state = 'GA'""".stripMargin),
    "q_tpcdsgen_q6" -> (oracleGenSql +
      """, cat_stats AS (
        |  SELECT i_category_id AS cat_id, sum(i_current_price_c)::BIGINT AS cat_sum,
        |    count(*) AS cat_cnt
        |  FROM item GROUP BY 1),
        |pricey AS (
        |  SELECT i_item_sk, i_category FROM item
        |  JOIN cat_stats ON i_category_id = cat_id
        |  WHERE i_current_price_c * cat_cnt * 5 > cat_sum * 6)
        |SELECT i_category, count(*) AS cnt
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN pricey ON ss_item_sk = i_item_sk
        |WHERE d_year = 2000 AND d_moy = 1
        |GROUP BY i_category
        |HAVING count(*) >= 10""".stripMargin),
    "q_tpcdsgen_q65" -> (oracleGenSql +
      """, sa AS (
        |  SELECT ss_store_sk, ss_item_sk, sum(ss_ext_sales_price_c)::BIGINT AS revenue
        |  FROM store_sales GROUP BY 1, 2),
        |sb AS (
        |  SELECT ss_store_sk AS st_sk, sum(revenue)::BIGINT AS st_sum,
        |    count(*) AS st_cnt
        |  FROM sa GROUP BY 1)
        |SELECT ss_store_sk, i_brand, ss_item_sk, revenue
        |FROM sa
        |JOIN sb ON ss_store_sk = st_sk
        |JOIN item ON ss_item_sk = i_item_sk
        |WHERE revenue * st_cnt * 2 <= st_sum""".stripMargin),
    "q_tpcdsgen_q98" -> (oracleGenSql +
      """, agg AS (
        |  SELECT i_item_sk, i_class, sum(ss_ext_sales_price_c)::BIGINT AS itemrevenue
        |  FROM store_sales
        |  JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |  JOIN item ON ss_item_sk = i_item_sk
        |  WHERE d_year = 2000
        |  GROUP BY 1, 2)
        |SELECT i_item_sk, i_class, itemrevenue,
        |  (itemrevenue * 1000000 // sum(itemrevenue) OVER (PARTITION BY i_class))::BIGINT
        |    AS revenueratio_ppm
        |FROM agg""".stripMargin),
    "q_tpcdsgen_q3" -> (oracleGenSql +
      """SELECT d_year, i_brand_id, i_brand, sum(ss_ext_sales_price_c)::BIGINT AS sum_agg
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN item ON ss_item_sk = i_item_sk
        |WHERE i_manufact_id = 28 AND d_moy = 11
        |GROUP BY d_year, i_brand_id, i_brand""".stripMargin),
    "q_tpcdsgen_q42" -> (oracleGenSql +
      """SELECT d_year, i_category_id, i_category, sum(ss_ext_sales_price_c)::BIGINT AS sum_agg
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN item ON ss_item_sk = i_item_sk
        |WHERE d_moy = 11 AND d_year = 2000
        |GROUP BY d_year, i_category_id, i_category""".stripMargin),
    "q_tpcdsgen_q52" -> (oracleGenSql +
      """SELECT d_year, i_brand_id, i_brand, sum(ss_ext_sales_price_c)::BIGINT AS ext_price
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN item ON ss_item_sk = i_item_sk
        |WHERE d_moy = 11 AND d_year = 2000
        |GROUP BY d_year, i_brand_id, i_brand""".stripMargin),
    "q_tpcdsgen_q55" -> (oracleGenSql +
      """SELECT i_brand_id, i_brand, sum(ss_ext_sales_price_c)::BIGINT AS ext_price
        |FROM store_sales
        |JOIN date_dim ON ss_sold_date_sk = d_date_sk
        |JOIN item ON ss_item_sk = i_item_sk
        |WHERE i_manager_id = 28 AND d_moy = 11 AND d_year = 1999
        |GROUP BY i_brand_id, i_brand""".stripMargin),
    "q_tpcdsgen_q7" -> (oracleGenSql +
      """SELECT ss_item_sk, count(*) AS n,
        |  sum(ss_quantity)::DOUBLE / count(*) AS agg1,
        |  sum(ss_list_price_c)::DOUBLE / count(*) AS agg2,
        |  sum(ss_sales_price_c)::DOUBLE / count(*) AS agg3
        |FROM store_sales
        |JOIN customer ON ss_customer_sk = c_customer_sk
        |JOIN promotion ON ss_promo_sk = p_promo_sk
        |WHERE c_birth_year BETWEEN 1940 AND 1949
        |  AND p_channel_email = 'N' AND p_channel_event = 'N'
        |GROUP BY ss_item_sk""".stripMargin),
    "q_tpcdsgen_q93" -> (oracleGenSql +
      """SELECT ss_customer_sk,
        |  sum((ss_quantity - coalesce(sr_return_quantity, 0)) * ss_sales_price_c)::BIGINT
        |    AS sumsales
        |FROM store_sales
        |LEFT JOIN store_returns
        |  ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
        |GROUP BY ss_customer_sk""".stripMargin))
}
