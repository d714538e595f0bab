package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    run(args)
    // every artifact is on disk and the session is stopped — force the
    // JVM down so a stray non-daemon thread from a battery query's
    // lifecycle (observed once at sf0.1) can never hang the driver
    // gate. Programmatic callers (tests, embedded harnesses) use
    // [[run]] directly or set GRAFT_VERIFY_NO_EXIT=1.
    if (!sys.env.get("GRAFT_VERIFY_NO_EXIT").contains("1")) System.exit(0)
  }

  /** The verify body without the CLI's System.exit — embeddable. */
  def run(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd+ args: run only the named queries (local iteration;
    // the driver always passes exactly two args → full battery)
    val only = args.drop(2).toSet
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // remove any previous run's output first: if a query throws before
    // writing, a stale parquet dir would make the oracle compare pass
    // on old data instead of failing loudly on the broken query
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      val dest = new java.io.File(s"$outDir/$name")
      if (dest.exists()) rmrf(dest)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop persisted intermediates — SQL cache AND localCheckpoint
      // RDD blocks (near-dup fingerprints) — so storage doesn't
      // accumulate across the 70+-query run on local[4]
      CacheReset(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(only))
    spark.stop()
  }

  /** oracle_sql.json's body: the oracle SQL of the queries in `only`
    * (every query when empty), so a named-query run's dump holds an
    * oracle for exactly the parquet dirs it wrote. */
  def oracleJson(only: Set[String]): String =
    SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
