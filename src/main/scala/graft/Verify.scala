package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — the driver passes exactly
    // two; extra names restrict the dump to that subset (local iteration)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, sfDir, outDir, only)
    finally spark.stop()
  }

  /** Dump every [[SparkEntry.queries]] result (or the `only` subset, when
    * non-empty) as `<outDir>/<name>` parquet plus `oracle_sql.json` —
    * the input of the DuckDB compare (`tools/local_verify.py`). Runs on
    * the caller's session and leaves it open. A failing
    * query is reported on stderr and leaves no parquet, which the
    * comparator then reports as missing. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String]): Unit = {
    // run the oracle gate THROUGH the whole-operator extension: every
    // ranked-window query executes on TopKPerKeyExec and must still
    // hash-match DuckDB
    graft.plans.TopKPlanning.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the LSH dedups persist their band frames for intra-query reuse;
      // drop them between queries so 56 queries don't accumulate a
      // session's worth of cached intermediates
      spark.catalog.clearCache()
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
  }
}
