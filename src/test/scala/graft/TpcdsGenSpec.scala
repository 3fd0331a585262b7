package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{TpcdsGen => G, TpcdsGen2}

/** Generator invariants + plan goldens for the extended deterministic
  * TPC-DS star schema. The data-level checks pin the cross-table
  * contracts every real query relies on (returns are subsets of their
  * sales fact, shipping happens after selling, the inventory grain is
  * dense and its quantity actually VARIES week-over-week — the r13
  * stride degeneracy 5000·53 ≡ 0 (mod 1000) made every (warehouse,
  * item) series constant and silently emptied q39). The plan goldens
  * pin the one-scan property of the band/pivot queries: the published
  * TPC-DS texts spell q88/q28/q66 as N cross-joined subqueries, and
  * the whole point of the conditional-aggregate formulation is that
  * the fact materializes ONCE.
  */
class TpcdsGenSpec extends SparkSpec {

  private val n = 6000L  // |lineitem| at sf0.001

  private def plan(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  test("TICKETED store_returns are a subset of store_sales on (ticket, item) " +
      "with qty <= sold; recall returns carry negative tickets and never join") {
    val sr = G.storeReturns(spark, n)
    val viol = sr.where(col("sr_ticket_number") > 0)
      .join(G.storeSales(spark, n),
        col("sr_ticket_number") === col("ss_ticket_number") &&
          col("sr_item_sk") === col("ss_item_sk"), "left")
      .where(col("ss_ticket_number").isNull ||
        col("sr_return_quantity") > col("ss_quantity"))
      .count()
    assert(viol === 0)
    // the r16 recall stripe exists and is unambiguously ticket-less
    assert(sr.where(col("sr_ticket_number") < 0).count() > 0)
  }

  test("the Spark array-lookup ticket form equals the CASE form (the DuckDB " +
      "reference text) on every slot of every block") {
    // both strings are generated from BASKET_CUM; this differential
    // pins them equal over 100 whole blocks so a future edit to one
    // side cannot silently diverge from the other
    val diff = spark.range(1, 6501).toDF("id")
      .selectExpr(s"(${G.ticketExprSpark}) AS a", s"(${G.ticketExpr("div")}) AS b")
      .where(col("a") =!= col("b")).count()
    assert(diff === 0)
  }

  test("basket grain invariants: ticket sizes follow the declared block cycle, " +
      "(ticket, item) is unique, and ticket-level attributes are constant per ticket") {
    val ss = G.storeSales(spark, n)
    val sizes = ss.groupBy(col("ss_ticket_number")).agg(count(lit(1)).as("sz"))
    // every size must come from the declared cycle (the tail block of
    // a non-multiple-of-65 corpus may truncate its last tickets, so
    // smaller sizes can appear — but never larger than the declared
    // maximum, and the two published q34 band sizes must be present)
    assert(sizes.where(col("sz") > G.BASKET_SIZES.max).count() === 0)
    val present = sizes.select(col("sz")).distinct().collect().map(_.getLong(0)).toSet
    assert(Set(16L, 20L).subsetOf(present), s"q34 band sizes missing from $present")
    assert(present.intersect(Set(1L, 2L, 3L, 4L, 5L)).nonEmpty)
    // (ticket, item) multiplicity — the q93/q24/q64 join key contract.
    // The r16 daily-deal stripe features ONE line per ticket (the
    // first), so a ticket can hold at most one incidental duplicate
    // (another line whose natural item coincides with the day's
    // feature); a RETURN on a duplicated pair would make the batch
    // (ticket, item) join double-count against the streaming twin, so
    // the guard pins that set empty at the battery volume.
    val pairs = G.storeSales(spark, 60000L)
      .groupBy(col("ss_ticket_number"), col("ss_item_sk"))
      .agg(count(lit(1)).as("m"))
    assert(pairs.where(col("m") > 2).count() === 0)
    val dupes = pairs.where(col("m") > 1)
      .select(col("ss_ticket_number"), col("ss_item_sk"))
    val dupedReturns = G.storeReturns(spark, 60000L)
      .join(dupes, col("sr_ticket_number") === col("ss_ticket_number") &&
        col("sr_item_sk") === col("ss_item_sk"))
      .count()
    assert(dupedReturns === 0,
      "a duplicated (ticket, item) pair must never carry a return")
    // ticket-level attributes never vary within a ticket
    val varying = ss.groupBy(col("ss_ticket_number"))
      .agg(countDistinct(col("ss_customer_sk")).as("nc"),
        countDistinct(col("ss_sold_date_sk")).as("nd"),
        countDistinct(col("ss_store_sk")).as("ns"),
        countDistinct(col("ss_hdemo_sk")).as("nh"))
      .where(col("nc") > 1 || col("nd") > 1 || col("ns") > 1 || col("nh") > 1)
    assert(varying.count() === 0)
  }

  test("the materialized star parquet equals the closed-form expansion — " +
      "file content cannot drift from the generator definition") {
    val file = G.storeSales(spark, n)
    val gen = G.storeSalesFromIds(spark.range(1, n + 1).toDF("id"))
    assert(file.count() === n)
    assert(file.exceptAll(gen).count() === 0)
    assert(gen.exceptAll(file).count() === 0)
  }

  test("the star checksum gate regenerates a corrupted directory instead of " +
      "serving silent wrong answers") {
    import java.nio.file.{Files, Path, Paths}
    import graft.operators.TpcdsStar
    val n2 = 1300L
    val before = G.storeSales(spark, n2).count()
    assert(before === n2)
    val dir = Paths.get(TpcdsStar.factsDir(n2), "store_sales.parquet")
    def dataFile(): Path = Files.list(dir)
      .filter(p => p.getFileName.toString.matches("part-.*\\.parquet")).findFirst().get()
    // corrupt the files on disk, force the gate to re-run, and expect
    // a regenerated star: every rewrite names its part files afresh
    def regenerates(corrupt: Path => Unit): Unit = {
      val part = dataFile()
      corrupt(part)
      TpcdsStar.forgetValidation()
      assert(G.storeSales(spark, n2).count() === n2,
        "the gate must have re-materialized the corrupted star")
      assert(!Files.exists(part), s"$part survived the gate")
    }
    // truncated to four bytes
    regenerates(part => Files.write(part, Array[Byte](0, 1, 2, 3)))
    // same length, one byte flipped mid-file
    regenerates { part =>
      val bytes = Files.readAllBytes(part)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
      Files.write(part, bytes)
    }
    // a stray extra data file (a copy would double every row it holds)
    regenerates { part =>
      Files.copy(part, dir.resolve("part-99999-stray.snappy.parquet"))
    }
    assert(!Files.exists(dir.resolve("part-99999-stray.snappy.parquet")))
    // a stray empty data file: every row stays intact, which a row
    // checksum cannot tell from a healthy star
    val empty = Files.createTempDirectory("graft-empty-part")
    G.storeSales(spark, n2).limit(0).write.mode("overwrite").parquet(empty.toString)
    regenerates { _ =>
      val part = Files.list(empty)
        .filter(p => p.getFileName.toString.matches("part-.*\\.parquet")).findFirst().get()
      Files.copy(part, dir.resolve("part-99998-empty.snappy.parquet"))
    }
  }

  test("with the star validated, a fresh session registers the ten input tables " +
      "and the TPC-DS views with zero Spark jobs") {
    import graft.operators.TpcdsStar
    TpcdsGen2.registerViews(spark, sfDir)
    // the gate re-checks the star's digests as a fresh JVM would
    TpcdsStar.forgetValidation()
    val (_, jobs) = JobCount.of(spark) {
      val s = spark.newSession()
      Tables.registerAll(s, sfDir)
      TpcdsGen2.registerViews(s, sfDir)
    }
    assert(jobs === 0, s"set-up launched $jobs Spark jobs")
  }

  test("q23's gate: with spark.graft.q23.matRows=0 the plan holds no duplicate " +
      "store_sales subtree") {
    def storeSalesScans(): (Int, String) = {
      val p = plan(TpcdsGen2.q23(spark, sfDir))
      (p.linesIterator.count(l =>
        l.contains("Location: InMemoryFileIndex") && l.contains("/store_sales.parquet")), p)
    }
    // below the default threshold each consumer of the two threshold
    // aggregates re-derives its own store_sales subtree
    val (lazyScans, lazyPlan) = storeSalesScans()
    assert(lazyScans > 1, lazyPlan)
    spark.conf.set("spark.graft.q23.matRows", "0")
    try {
      val (matScans, matPlan) = storeSalesScans()
      assert(matScans === 0, matPlan)
    }
    finally spark.conf.unset("spark.graft.q23.matRows")
  }

  /** Scans of each fact table in `df`'s executed plan, by table. */
  private def factScans(df: DataFrame): Map[String, Int] = {
    val facts = Seq("store_sales", "store_returns", "catalog_sales", "catalog_returns",
      "web_sales", "web_returns", "inventory")
    val p = plan(df)
    facts.map(f => f -> p.linesIterator.count(l =>
      l.contains("Location: InMemoryFileIndex") && l.contains(s"/$f.parquet")))
      .filter(_._2 > 0).toMap
  }

  /** `df`'s rows with columns in name order, as sorted strings. */
  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq

  /** The rows that keep a DataFrame body instead of running their text. */
  private val keptBodies = Set("q2", "q14", "q23", "q64", "q75", "q82").map("q_tpcdsgen_" + _)

  test("the year-over-year folds of q2, q14, q64 and q75 scan each fact table " +
      "once and return their text's rows") {
    // sf0.01: at sf0.001 q64's retention cut keeps no row
    val dir = sfDir.replace("sf0.001", "sf0.01")
    Seq("q2", "q14", "q64", "q75").map("q_tpcdsgen_" + _).foreach { name =>
      val body = SparkEntry.queries(name)(spark, dir)
      val scans = factScans(body)
      assert(scans.nonEmpty && scans.values.forall(_ == 1),
        s"$name must read each fact table in one scan, got $scans")
      val rows = sortedRows(body)
      assert(rows.nonEmpty, name)
      assert(rows === sortedRows(SparkEntry.queries(s"${name}_sqltext")(spark, dir)), name)
    }
  }

  test("every generator row but the six kept bodies runs its shared SQL text") {
    import org.apache.spark.sql.catalyst.normalizer.NormalizeCTEIds
    // each parse numbers its CTEs afresh, so ids are normalized first
    def sameResult(a: String, b: String): Boolean =
      Seq(a, b).map(n => NormalizeCTEIds(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.analyzed)) match { case Seq(x, y) => x.sameResult(y) }
    val names = SparkEntry.queries.keySet.filter(_.matches("q_tpcdsgen_q\\d+"))
    assert(names.size === 99)
    assert(keptBodies.subsetOf(names))
    (names -- keptBodies).toSeq.sorted.foreach { name =>
      assert(sameResult(name, s"${name}_sqltext"),
        s"$name has a second definition besides its text")
    }
    // the comparison tells a body from its text
    keptBodies.foreach(name => assert(!sameResult(name, s"${name}_sqltext"), name))
  }

  test("q34's basket count collapses at ticket grain with every dim broadcast — " +
      "no sort-merge join anywhere in the plan") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q34")(spark, sfDir))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("catalog and web returns join back to exactly one sale each") {
    val cr = G.catalogReturns(spark, n).join(G.catalogSales(spark, n),
      col("cr_order_number") === col("cs_order_number")).count()
    assert(cr === G.catalogReturns(spark, n).count())
    val wr = G.webReturns(spark, n).join(G.webSales(spark, n),
      col("wr_order_number") === col("ws_order_number")).count()
    assert(wr === G.webReturns(spark, n).count())
  }

  test("ship dates are strictly after sold dates on both shipping channels") {
    assert(G.catalogSales(spark, n)
      .where(col("cs_ship_date_sk") <= col("cs_sold_date_sk")).count() === 0)
    assert(G.webSales(spark, n)
      .where(col("ws_ship_date_sk") <= col("ws_sold_date_sk")).count() === 0)
  }

  test("inventory grain is unique on (date, item, warehouse) and quantities vary " +
      "within a warehouse/item series (the q39 stride-degeneracy guard)") {
    val inv = G.inventory(spark)
    assert(inv.count() === G.INV_ROWS)
    assert(inv.select(col("inv_date_sk"), col("inv_item_sk"), col("inv_warehouse_sk"))
      .distinct().count() === G.INV_ROWS)
    // every (warehouse, item) series must see more than one quantity —
    // with modulus 997 coprime to the 5000-id week stride this holds
    // for all 5000 series; the old modulus 1000 made ALL of them 1
    val constSeries = inv.groupBy(col("inv_warehouse_sk"), col("inv_item_sk"))
      .agg(countDistinct(col("inv_quantity_on_hand")).as("nq"))
      .where(col("nq") === 1).count()
    assert(constSeries === 0)
  }

  test("time and household dims are dense and in range") {
    val t = G.timeDim(spark)
    assert(t.count() === 86400)
    assert(t.where(col("t_hour") < 0 || col("t_hour") > 23 ||
      col("t_minute") < 0 || col("t_minute") > 59).count() === 0)
    val hd = G.householdDemographics(spark)
    assert(hd.count() === G.N_HDEMO)
    assert(hd.where(col("hd_dep_count") < 0 || col("hd_dep_count") > 9).count() === 0)
  }

  test("q88's eight time bands materialize the fact ONCE (the published text " +
      "is eight cross-joined subqueries = eight scans)") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q88")(spark, sfDir))
    // fact + hd dim + time dim = exactly three sources (parquet scans
    // of the materialized star since r15)
    val scans = p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
    assert(scans === 3, s"expected 3 scans (fact, hd, time), got $scans:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q28's six banded distinct-aggregate triples stay one fact scan " +
      "(multi-distinct rewrites to Expand, not to six subquery scans)") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q28")(spark, sfDir))
    val scans = p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
    assert(scans === 1, s"expected the single fact scan, got $scans:\n$p")
    assert(p.contains("Expand"), s"multi-distinct should plan through Expand:\n$p")
  }

  test("q49's rank<=10 cut plans as WindowGroupLimit — no channel sorts item-wide") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q49")(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q66's warehouse report is one pass over the channel union: two fact " +
      "ranges, broadcast dims only") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q66")(spark, sfDir))
    assert(!p.contains("SortMergeJoin"), p)
    val scans = p.linesIterator.count(_.contains("Location: InMemoryFileIndex"))
    // web fact + catalog fact + ship_mode + date + warehouse
    assert(scans === 5, s"expected 5 scans, got $scans:\n$p")
  }

  test("q51's cumulative windows run over (item, week) aggregates, never fact rows") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q51")(spark, sfDir))
    val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
    val windowIdx = tree.indexWhere(_.contains("Window"))
    val firstAgg = tree.indexWhere(_.contains("HashAggregate"))
    assert(windowIdx >= 0 && firstAgg > windowIdx,
      s"window must consume the aggregated frame:\n$p")
  }

  test("q72's inventory correlation is a pure equi-join — no nested loop, " +
      "no cartesian, no range residual fan-out") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q72")(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the three-key (item, warehouse, week) join must stay hash/merge:\n$p")
  }

  test("q77's FULL OUTER legs join unit-grain aggregates, never fact vs fact") {
    val p = plan(SparkEntry.queries("q_tpcdsgen_q77")(spark, sfDir))
    val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
    val outerIdx = tree.indexWhere(_.contains("FullOuter"))
    assert(outerIdx >= 0, p)
    // above every full-outer join sits an aggregate on each input —
    // check the subtree below the first full outer contains aggregates
    val below = tree.drop(outerIdx)
    assert(below.count(_.contains("HashAggregate")) >= 2,
      s"full outer must consume aggregated unit-grain frames:\n$p")
  }

  test("streaming star twin: q3 folded over micro-batches equals the batch " +
      "query, and a replayed batchId is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TpcdsStream
    import spark.implicits._
    // ids arrive out of order across three uneven micro-batches
    val store = new TpcdsStream.StarStore
    val input = MemoryStream[Long](97, spark, None)
    val q = input.toDS().writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Long], id: Long) =>
        val partial = TpcdsStream.collectPartial(TpcdsStream.q3Partial(df.toDF()))
        store.fold(partial, id)
        // at-least-once replay of the SAME batchId must be a no-op
        store.fold(partial, id)
        ()
      }.start()
    // 60k lines (the sf0.01 volume): q3's published filter keeps ONE
    // item of 1000 since the r15 manufact-domain widening, so the
    // 6k-line fixture could land zero Nov sales for it (vacuous test)
    val nQ3 = 60000L
    try {
      Seq(40001L to nQ3, 1L to 20000L, 20001L to 40000L).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = G.storeSales(spark, nQ3)
      .join(broadcast(G.dateDim(spark)),
        col("ss_sold_date_sk") === col("d_date_sk"))
      .join(broadcast(G.item(spark)), col("ss_item_sk") === col("i_item_sk"))
      .where(col("i_manufact_id") === 28 && col("d_moy") === 11)
      .groupBy(col("d_year"), col("i_brand_id"), col("i_brand"))
      .agg(sum(col("ss_ext_sales_price_c")).as("sum_agg"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(batch.nonEmpty)
    assert(store.toRows === batch)
  }

  test("streaming returns twin: a return arriving in a LATER micro-batch " +
      "retracts the customer's net spend, and the folded store equals batch q93") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TpcdsStream
    import spark.implicits._
    val store = new TpcdsStream.NetSpendStore
    // events are (line id, isReturn): sales stream in two batches,
    // each batch's returns arrive one batch AFTER its sales
    val input = MemoryStream[(Long, Boolean)](101, spark, None)
    val q = input.toDS().writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[(Long, Boolean)], id: Long) =>
        val sales = df.filter(!_._2).map(_._1).toDF("id")
        val rets = df.filter(_._2).map(_._1).toDF("id")
        val deltas = TpcdsStream.collectDeltas(TpcdsStream.q93Partial(sales, rets))
        store.fold(deltas, id)
        store.fold(deltas, id) // at-least-once replay must be a no-op
        ()
      }.start()
    try {
      val b1sales = (1L to 3000L).map((_, false))
      val b2 = (3001L to 6000L).map((_, false)) ++
        (1L to 3000L).filter(_ % 13 == 0).map((_, true))
      val b3 = (3001L to 6000L).filter(_ % 13 == 0).map((_, true))
      Seq(b1sales, b2, b3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = G.storeSales(spark, n)
      .join(G.storeReturns(spark, n),
        col("ss_ticket_number") === col("sr_ticket_number") &&
          col("ss_item_sk") === col("sr_item_sk"), "left")
      .groupBy(col("ss_customer_sk"))
      .agg(sum((col("ss_quantity") - coalesce(col("sr_return_quantity"), lit(0L)))
        * col("ss_sales_price_c")).as("sumsales"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(store.toRows === batch)
    // the retraction is REAL: some customer emitted -U(old) then
    // +U(new) with new < old in a return-bearing batch
    val retracted = store.changelog.sliding(2).exists {
      case Seq((b1, c1, old, 1), (b2, c2, nw, 2)) =>
        b1 >= 2 && b1 == b2 && c1 == c2 && nw < old
      case _ => false
    }
    assert(retracted, "expected at least one -U/+U pair revising a total downward")
  }

  test("streaming-shape smoke: the q5 rollup report returns every channel " +
      "with internally consistent totals") {
    val rows = SparkEntry.queries("q_tpcdsgen_q5")(spark, sfDir)
      .where(col("unit_sk").isNull && col("channel").isNotNull)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet === Set("store channel", "catalog channel", "web channel"))
    // per-channel: profit <= sales (refunds only subtract), returns > 0
    rows.foreach { case (ch, (sales, returns, profit)) =>
      assert(returns > 0, ch)
      assert(profit < sales, ch)
    }
  }
}
