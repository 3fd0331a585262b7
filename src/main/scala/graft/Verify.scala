package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query ...] — trailing names restrict the
    // dump (local iteration); the driver always passes exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Materialize the generated TPC-DS star for this sf (a no-op when
    // the digest-gated scratch parquet already verifies) BEFORE the
    // oracle dump, so the dumped prefix always points at real files —
    // even when a trailing-args subset skipped every generator query.
    try graft.operators.TpcdsGen2.registerViews(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] tpcds star materialization failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Published-text degeneracy gate (r16): at the battery scale every
    // *_published row must SELECT, not merely run — a zero-row result
    // proves the predicate chain parses, not that it filters. The two
    // pinned keys carry written selectivity analyses (COVERAGE.md);
    // anything else newly empty fails the dump loudly. Counting reads
    // the just-written parquet footers, so no query re-executes.
    if (sfDir.replaceAll("/+$", "").endsWith("sf0.01")) {
      val newlyEmpty = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => n.endsWith("_published") && (only.isEmpty || only.contains(n)))
        .filterNot(graft.operators.TpcdsPublished.PINNED_EMPTY)
        .filter { n =>
          val p = Paths.get(s"$outDir/$n")
          Files.exists(p) && spark.read.parquet(p.toString).count() == 0
        }
      require(newlyEmpty.isEmpty,
        s"published rows newly EMPTY at battery scale: ${newlyEmpty.mkString(", ")} — " +
          "fix the value-domain coupling or pin with a written analysis " +
          "(TpcdsPublished.PINNED_EMPTY)")
    }
    spark.stop()
  }
}
