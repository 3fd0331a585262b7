package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, writes the full per-query JSON to
  * SPARK_GRAFT_BENCH_OUT, and prints the full-battery JSON line first
  * followed by ONE short headline line (<1.5 kB, asserted) — the
  * driver's ~2 kB stdout tail must always end on a parseable line.
  *
  * Methodology (reworked in round 3 — the round-2 numbers were not
  * trustworthy):
  *  - each query executes fully via a noop-sink write — `.count()`
  *    would let Catalyst prune every computed column and time an
  *    emptier plan than the one users run;
  *  - a fresh `newSession()` per query (own catalog/conf/UDFs on the
  *    shared context): round 2 ran 99 queries through one session and
  *    catalog growth + GC pressure billed 4-6x phantom regressions to
  *    whichever query ran late (in-run 6.29 s vs 1.63 s isolated for
  *    q_tpch_q22);
  *  - `Tables.registerAll` runs once per session BEFORE the timer —
  *    SQL-path queries re-register defensively and round 2 billed ten
  *    parquet re-plans to each of them;
  *  - median of 3 passes per query (pass 1 absorbs plan compile).
  *
  * Stdout keeps only a headline subset: the driver retains the last
  * ~2 kB of stdout, and the full 99-query map (~3.4 kB) got beheaded
  * there in rounds 1-2 ("parsed": null). The file always holds every
  * query.
  */
object Bench {
  /** Queries worth a line in the driver's ~2 kB stdout tail. The r11
    * lesson, hard way: this list grew to ~100 queries, the final
    * stdout line hit ~3.4 kB, the tail beheaded it, and BENCH_r11
    * parsed as null. The contract now: the LAST stdout line must stay
    * well under 2 kB (~32 queries ≈ 0.8 kB), the full battery prints
    * FIRST (and always lands in SPARK_GRAFT_BENCH_OUT), and
    * `headlineLine` asserts the budget at build time.
    */
  private val headline = Seq(
    "q1_agg", "q_tpch_q1", "q_tpch_q6", "q_tpch_q18", "q_tpch_q22",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_cc",
    "q_dedup_substring", "q_dedup_fuzzy", "q_semdedup",
    "q_sim_topk", "q_sim_ivf_det", "q_sim_pq_ann", "q_kmeans",
    "q_text_gopher", "q_text_bm25", "q_lm_perplexity",
    "q_quality_classifier", "q_token_budget",
    "q_graph_pagerank", "q_graph_triangles", "q_graph_cc", "q_sql_recursive",
    "q_tpcds_channels", "q_tpcds_freqbest", "q_tpcdsgen_q3", "q_freq_cms",
    "q_funnel", "q_sessionize", "q_pipeline_curate",
    "q_window_topn", "q_cep_pattern",
    // r16: the two r15 watch rows (controlled-run drift suspects)
    // get headline slots so a real regression can't hide in the tail
    "q_graph_kcore", "q_agg_approx")

  /** Family of a query name — the per-family digest keys. Prefix
    * buckets, coarse on purpose: the digest exists so the driver's
    * 2 kB stdout tail carries a round-over-round signal for the WHOLE
    * battery (sum + count per family), not just the headline rows. */
  private[graft] def family(name: String): String = name match {
    case n if n.startsWith("q_tpcdsgen") => "tpcdsgen"
    case n if n.startsWith("q_tpcds") => "tpcds_shape"
    case n if n.startsWith("q_tpch") => "tpch"
    case n if n.startsWith("q_dedup") || n == "q_semdedup" => "dedup"
    case n if n.startsWith("q_sim") || n == "q_kmeans" => "sim"
    case n if n.startsWith("q_graph") => "graph"
    case n if n.startsWith("q_text") || n.startsWith("q_lm") ||
      n.startsWith("q_bpe") || n.startsWith("q_chunk") ||
      n.startsWith("q_pack") => "text"
    case n if n.startsWith("q_stream") => "stream"
    case n if n.startsWith("q_sql") => "sql"
    case n if n.startsWith("q_agg") => "agg"
    case n if n.startsWith("q_fn") => "fn"
    case n if n.startsWith("q_cep") => "cep"
    case _ => "other"
  }

  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    // Validate the stdout budget BEFORE the multi-hour battery, and
    // with `require` (assert compiles out under -Xelide-below): worst
    // case per entry is "name":NNNN.NNN, +~90 B of envelope.
    // +500 B allowance: per-family digest (~13 families × ~24 B),
    // calibration row and full-line path in the same final line.
    val hlBound = 90 + headline.map(_.length + 12).sum + 500
    require(hlBound < 1600,
      s"headline bench line could reach $hlBound B — trim `headline`, the driver tail is ~2 kB")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // median of 5: run-to-run noise on this machine is ±2x for
    // sub-second queries (measured rounds 4-5, identical code) — 5
    // passes tighten the median without materially moving the total
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt
    val root = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    root.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(root)

    def timed(s: SparkSession, name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(s, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // JVM warmup (JIT, codegen compiler, parquet footers, TPC-DS star
    // materialization) — uncounted. One query was not enough: four
    // consecutive rounds (r11 graphs, r13 minhash, r14 pagerank/
    // minhash) billed phantom 3-5x "regressions" to headline queries
    // that merely ran on a cold JIT — iterative multi-job queries pay
    // the un-warmed JVM hardest (r14 measured pagerank 9.90 s cold vs
    // 2.78 s warm, same code). The warm-up set covers each engine
    // path the headline exercises: a parquet scan+agg, a generated-
    // star query (also triggers the one-time star parquet write +
    // digest validation so no timed query pays it), an iterative
    // multi-job graph fixpoint, and a banded-join dedup.
    locally {
      val s = root.newSession()
      graft.plans.GraftExtensions.install(s)
      Tables.registerAll(s, sfDir)
      Seq("q1_agg", "q_tpcdsgen_q3", "q_graph_pagerank", "q_dedup_minhash")
        .foreach(n => try timed(s, n) catch { case _: Throwable => () })
      s.sqlContext.clearCache()
      root.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }

    // Optional trailing args restrict the run (local iteration);
    // the driver passes none and gets the full battery.
    val only = args.toSet
    // The HEADLINE subset runs FIRST, on the quiet freshly-warmed
    // JVM: three rounds straight (r11 graphs, r13 minhash) billed
    // phantom 3-5x "regressions" to headline queries that merely ran
    // late in a 25+-minute battery under accumulated heap/JIT/page-
    // cache pressure. Round-over-round comparisons read the headline
    // numbers, so those get the quiet JVM; the long tail follows in
    // alphabetical order and its position noise only moves itself.
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.isEmpty || only.contains(n))
        // a *_sqltext row runs the same translated text as its base
        // row (TpcdsSqlText), except for the six base rows that keep
        // a DataFrame body, so timing them doubles the generator
        // battery for no signal while the extra plan compilations
        // degrade the shared JVM for every later query (measured r14:
        // +10% on untouched families). They stay in Verify —
        // correctness is their job; the base rows carry the timing.
        // The skip applies only to the FULL battery — an explicitly
        // requested sqltext query (local iteration) always runs.
        .filterNot(n => only.isEmpty && n.endsWith("_sqltext"))
        // Same rationale for the 97 published-text rows (r15): they
        // are CORRECTNESS rows — near-identical star plans over the
        // same materialized files as their adapted twins, which carry
        // the timing signal. Three representative published rows stay
        // benched so the text path itself has a timing row.
        .filterNot(n => only.isEmpty && n.endsWith("_published") &&
          !Set("q_tpcdsgen_q3_published", "q_tpcdsgen_q4_published",
            "q_tpcdsgen_q67_published").contains(n))
      val hl = headline.filter(all.contains)
      hl ++ all.filterNot(hl.toSet)
    }
    val results = names.map { n =>
      val s = root.newSession()
      graft.plans.GraftExtensions.install(s)
      Tables.registerAll(s, sfDir)
      // Headline queries get median-of-3 minimum even when the driver
      // dials passes down to 1: those are the round-over-round
      // comparison numbers, and a single cold pass is what produced
      // the r14 phantom regressions. The four known-noisy iterative
      // rows (r16 verdict: identical code measured over a ±50% band,
      // manufacturing two phantom regressions) get median-of-5 so
      // their medians stop riding per-JVM scheduling noise —
      // additions only, the timed region is untouched.
      val noisy = Set("q_dedup_cc", "q_graph_kcore", "q_dedup_minhash",
        "q_graph_pagerank")
      val nPasses =
        if (noisy.contains(n)) math.max(passes, 5)
        else if (headline.contains(n)) math.max(passes, 3)
        else passes
      val ts = (1 to nPasses).flatMap { _ =>
        try Some(timed(s, n))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $n failed: ${e.getMessage}")
          None
        }
      }
      // State barrier (ScaleProbe's lesson applied here): fresh
      // sessions do NOT bound persisted/checkpointed RDDs — those are
      // SparkContext-level, so operators that cache internals (the
      // verify stage's candidate pairs, CC label snapshots) leak
      // across the battery and bill memory-pressure slowdowns to
      // whatever runs late.
      s.sqlContext.clearCache()
      root.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      n -> (if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2))
    }

    def fmt(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def line(qs: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":${fmt(qs)},"sf":"$sfDir"}"""

    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    val w = new java.io.PrintWriter(new java.io.File(out))
    try w.println(line(results)) finally w.close()

    // Calibration row: one fixed cheap query, median of 5, measured
    // AFTER the battery on the same JVM — if the environment (driver
    // load, noisy neighbors) inflated this run, the calibration
    // inflates with it, so a plan regression is separable from a slow
    // machine (r14/r15 both needed a controlled re-run to adjudicate
    // exactly this).
    val calib = locally {
      val s = root.newSession()
      graft.plans.GraftExtensions.install(s)
      Tables.registerAll(s, sfDir)
      val ts = (1 to 5).flatMap(_ =>
        try Some(timed(s, "q1_agg")) catch { case _: Throwable => None })
      if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)
    }

    // Per-family digest: [sum_seconds, n_queries] over the FULL
    // battery, so the retained tail carries every family's movement.
    val fams = results.filter(_._2 >= 0).groupBy(r => family(r._1)).toSeq
      .sortBy(_._1)
      .map { case (f, rs) => s""""$f":[${num(rs.map(_._2).sum)},${rs.size}]""" }
      .mkString("{", ",", "}")

    // Full battery FIRST (recoverable from scrollback even if the
    // tail beheads it), short headline line LAST — the driver's tail
    // capture must always end on a complete, parseable JSON line that
    // alone supports the round-over-round comparison: headline
    // queries + per-family digest + calibration + the full-line path.
    println(line(results))
    val hlQs = fmt(results.filter(r => headline.contains(r._1)))
    val hl = s"""{"metric":"total","value":${num(total)},"unit":"sec"""" +
      s""","queries":$hlQs,"families":$fams,"calib":${num(calib)}""" +
      s""","full":"$out","sf":"$sfDir"}"""
    require(hl.length < 1600,
      s"headline bench line ${hl.length} B — trim `headline`, the driver tail is ~2 kB")
    println(hl)
    root.stop()
  }
}
