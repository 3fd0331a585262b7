package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.{DigestInputStream, MessageDigest}

import graft.ParquetFooters

/** Materializes the generated TPC-DS star schema to digest-gated
  * scratch PARQUET, once per (fact volume, generator version) — both
  * the Spark engine and the DuckDB oracle then read the same files,
  * exactly like the reference's e2e gate reads dsdgen output files
  * (flink-end-to-end-tests/flink-tpcds-test/.../TpcdsTestProgram
  * .java:76-85) rather than re-deriving tables inside each query.
  *
  * Why files instead of the closed-form projections the battery ran
  * through round 14: the 19-column store_sales expansion (with its
  * 65-entry basket LUT) was re-derived BY EVERY QUERY — ~17% warm
  * overhead per generator query and ~2× in-battery (r14 verdict), and
  * the whole star was re-analyzed per fresh bench session. A parquet
  * scan amortizes the expansion to one write per scale factor, gives
  * every query genuine columnar pruning + pushdown, and makes the
  * correctness gate read generated FILES. The closed forms stay the
  * single source of truth — they are what gets WRITTEN (and what the
  * streaming twins replay through [[TpcdsGen.storeSalesFromIds]]), so
  * file content can never drift from the generator definition; the
  * digest gate turns any on-disk corruption or version skew into
  * regeneration instead of silent wrong answers.
  *
  * Layout (under java.io.tmpdir, overridable via SPARK_GRAFT_STAR_DIR):
  *   dims_<sig>/            fixed-size tables — dim ring + inventory
  *   facts_n<N>_<sig>/      the six sales/returns facts at |lineitem|=N
  * Each directory holds <table>.parquet/ plus a _GRAFT_OK marker with
  * one `table sha256 file...` row per table: the sorted names of the
  * table's data files and a SHA-256 over their names, lengths and
  * bytes, computed right after the write. A dir is trusted only after
  * the marker re-computes identically from the files (once per JVM).
  * The gate is a driver-side file digest rather than a row checksum
  * (count + xor of xxhash64, through r17) for two reasons: it needs no
  * Spark job, where the row checksum scanned every star row at each
  * JVM's first use; and it catches strictly more. Any damage that
  * changes rows changes bytes, so truncated, zeroed, missing, flipped
  * and stray files all fail it; but damage that leaves every row
  * intact also fails it, where the full-scan row checksum passes — a
  * flipped min/max statistic that lets pushdown skip a row group a
  * filtered query needs, or a stray empty part file.
  * Schemas come from the parquet footers ([[ParquetFooters]]), so a
  * validated star registers with no Spark job at all.
  * <sig> hashes the generator version + the string-typed closed
  * forms, so editing a mixer lands in a FRESH directory automatically;
  * Scala-typed generator edits must bump [[GEN_VERSION]].
  *
  * At 100 TB this is the same design dsdgen-based harnesses use: pay
  * generation once into the lake, then every query is a plain file
  * scan with statistics, pruning, and DPP — never a compute-the-fact
  * subtree glued above each plan.
  */
object TpcdsStar {

  /** Fixed-size tables (the dim ring + weekly inventory snapshots) —
    * names are the ORACLE-side table names (`customer` here is the
    * TPC-DS customer dim; Spark registers it as `customer_dim` because
    * the TPC-H table owns the bare name in shared sessions). */
  val DIMS: Seq[String] = Seq(
    "date_dim", "item", "customer", "customer_address", "income_band",
    "reason", "household_demographics", "customer_demographics",
    "time_dim", "warehouse", "ship_mode", "call_center", "web_site",
    "store", "promotion", "web_page", "catalog_page", "inventory")

  /** Fact tables — sized by the host corpus (|store_sales| = n). */
  val FACTS: Seq[String] = Seq(
    "store_sales", "store_returns", "catalog_sales", "catalog_returns",
    "web_sales", "web_returns")

  /** Bump on ANY generator change not captured by the string-typed
    * closed forms (dim projections, channel mixers live as Scala), and
    * on any change to the _GRAFT_OK marker format, so stars gated the
    * old way never share a directory with the new ones. */
  private val GEN_VERSION = "r15.3"

  private def root: String =
    sys.env.getOrElse("SPARK_GRAFT_STAR_DIR",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_tpcds_star")

  private def sig(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().take(4).map(b => f"$b%02x").mkString
  }
  private lazy val dimsSig = sig(GEN_VERSION +: TpcdsGen.dimGenSignature)
  private lazy val factsSig = sig(GEN_VERSION +: TpcdsGen.factGenSignature)

  def dimsDir: String = s"$root/dims_$dimsSig"
  def factsDir(n: Long): String = s"$root/facts_n${n}_$factsSig"

  /** The facts directory most recently ensured in this JVM — the
    * oracle prefix reads it when Verify dumps oracle_sql.json (Verify
    * registers the views for its sf first, so this is always the
    * round's actual directory by dump time). */
  @volatile private var lastFactsDir: String = _
  def currentFactsDir: Option[String] = Option(lastFactsDir)

  /** DuckDB CTE prefix over the materialized files — the file-reading
    * replacement for the closed-form regeneration prefix. Ends with
    * `)\n` like the legacy prefix so query bodies compose identically
    * (`, extra AS (...)` or a direct `SELECT`). */
  def oraclePrefix: Option[String] = currentFactsDir.map { fd =>
    (DIMS.map(t => s"$t AS (SELECT * FROM '$dimsDir/$t.parquet/*.parquet')") ++
      FACTS.map(t => s"$t AS (SELECT * FROM '$fd/$t.parquet/*.parquet')"))
      .mkString("WITH ", ",\n", "\n")
  }

  // dirs whose _GRAFT_OK digests re-verified against the files in
  // this JVM — the gate runs once, not per query
  private val validated = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: forget per-JVM validation so the next ensure re-runs
    * the digest gate against the files. */
  private[graft] def forgetValidation(): Unit = validated.clear()

  def dim(s: SparkSession, table: String): DataFrame = {
    ensureDims(s)
    ParquetFooters.read(s, s"$dimsDir/$table.parquet")
  }

  def fact(s: SparkSession, n: Long, table: String): DataFrame = {
    ensureFacts(s, n)
    ParquetFooters.read(s, s"${factsDir(n)}/$table.parquet")
  }

  def ensureDims(s: SparkSession): String =
    ensure(dimsDir, DIMS.map(t => t -> (() => TpcdsGen.genDim(s, t))))

  def ensureFacts(s: SparkSession, n: Long): String = {
    ensureDims(s)
    val d = ensure(factsDir(n),
      FACTS.map(t => t -> (() => TpcdsGen.genFact(s, t, n))))
    lastFactsDir = d
    d
  }

  /** The _GRAFT_OK text for `names` under `dir`: per table, the SHA-256
    * over each data file's name, length and bytes, then the sorted file
    * names. Data files are the ones Spark reads (not `_`/`.`-prefixed),
    * so a stray extra part file changes the text too. */
  private def marker(dir: String, names: Seq[String]): String =
    names.map { name =>
      val table = Paths.get(dir, s"$name.parquet")
      val files = Option(table.toFile.list())
        .getOrElse(throw new java.nio.file.NoSuchFileException(table.toString))
        .filterNot(f => f.startsWith("_") || f.startsWith(".")).sorted
      val md = MessageDigest.getInstance("SHA-256")
      files.foreach { f =>
        val p = table.resolve(f)
        md.update(s"$f ${Files.size(p)}\n".getBytes("UTF-8"))
        val in = new DigestInputStream(Files.newInputStream(p), md)
        try in.transferTo(java.io.OutputStream.nullOutputStream()) finally in.close()
      }
      (name +: md.digest().map(b => f"$b%02x").mkString +: files).mkString(" ")
    }.mkString("", "\n", "\n")

  private def ensure(dir: String,
      tables: Seq[(String, () => DataFrame)]): String = synchronized {
    if (validated.contains(dir)) return dir
    val names = tables.map(_._1)
    if (marksVerify(dir, names)) {
      validated.add(dir)
      return dir
    }
    // (Re)generate into a tmp sibling, then atomic-rename into place —
    // a concurrent JVM either wins the rename (we validate its result)
    // or sees ours complete; no reader ever observes a partial star.
    // A stale failed-gate directory is renamed ASIDE first, not deleted
    // in place (the r16 advisory: an in-place delete could remove
    // parquet files a concurrently running JVM is mid-scan on; the
    // aside rename keeps those file handles valid while freeing the
    // target name), and the aside copy is only then torn down.
    if (Files.exists(Paths.get(dir))) {
      val aside = Paths.get(
        dir + ".stale-" + ProcessHandle.current().pid() + "-" + System.nanoTime())
      try {
        Files.move(Paths.get(dir), aside, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(aside)
      } catch { case _: java.io.IOException => () } // a peer moved/rebuilt it
    }
    val tmp = Paths.get(
      dir + ".tmp-" + ProcessHandle.current().pid() + "-" + System.nanoTime())
    tables.foreach { case (name, build) =>
      build().write.mode("overwrite").parquet(s"$tmp/$name.parquet")
    }
    Files.writeString(tmp.resolve("_GRAFT_OK"), marker(tmp.toString, names))
    // Losing the publish race surfaces differently by platform/timing:
    // FileAlreadyExistsException from the move, DirectoryNotEmptyException
    // when rename(2) lands on a re-created non-empty directory (ENOTEMPTY),
    // or AccessDeniedException from a peer's in-flight move — in every
    // case the winner's gate is validated instead of failing the JVM.
    try Files.move(tmp, Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.AccessDeniedException =>
        deleteRecursively(tmp) // another JVM won the race; trust its gate
        require(marksVerify(dir, names),
          s"concurrent TPC-DS star at $dir failed its digest gate")
    }
    validated.add(dir)
    dir
  }

  private def marksVerify(dir: String, names: Seq[String]): Boolean =
    try Files.readString(Paths.get(dir, "_GRAFT_OK")) == marker(dir, names)
    catch { case _: java.io.IOException => false }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }
  }
}
