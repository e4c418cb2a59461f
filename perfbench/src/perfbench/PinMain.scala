package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Pins the expected values of the `registry_sf0.1` ops (run by
  * `perfbench/pin_expected.py`, never by a benchmark run).
  *
  *   --step sql  writes the DuckDB oracle SQL of every op in the slice;
  *   --step pin  digests the oracle results (parquet, one directory per
  *               op, written by DuckDB) and the production forms' results,
  *               and writes the expectation file.
  *
  * An op whose production result equals its oracle's is pinned to the
  * oracle. An approximate form (by design) is pinned to the oracle's rows
  * without its floating-point columns. An op that misses its oracle keeps
  * the oracle as its expectation, so every run counts it as failed, and
  * records what it returns today as a known deviation, so that a run
  * tells a new deviation from the documented one. An op without an
  * oracle is pinned to the row count and row set it returns today. The
  * streaming curation op is pinned to its batch twin's content keys. */
object PinMain extends Workload {
  val ApproxByDesign: Set[String] = Set("events_value_quantiles")
  /** Production overrides that are capped forms by design: their oracle
    * is the capped variant's, which the registry gates as its own row. */
  val OracleOf: Map[String, String] = Map(
    "text_inverted_index" -> "text_inverted_index_capped",
    "text_winnow_matches" -> "text_winnow_matches_capped")

  def run(a: Args): String = {
    val step = a.opts("step")
    val spark = Main.session(a, "pin")
    val ops = RegistryWorkload.OpSet
    step match {
      case "sql" =>
        val sql = ops.flatMap(k =>
          SparkEntry.oracleSql.get(OracleOf.getOrElse(k, k)).map(k -> _)).toMap
        Files.writeString(Paths.get(a.opts("out")), Json.value(sql) + "\n")
        s"wrote ${sql.size} oracle queries"
      case "pin" =>
        val oracleDir = Paths.get(a.opts("oracle"))
        val queries = SparkEntry.benchQueries
        val dir = a.fixtures
        val entries: Seq[(String, Any)] = ops.map { name =>
          def prod(): Digest = {
            spark.catalog.clearCache()
            Digest.of(queries(name)(spark, dir))
          }
          val p1 = prod()
          val p2 = prod()
          require(p1.sameRows(p2) && p1.sameFloats(p2),
            s"$name: two runs of the production form disagree")
          val o = oracleDir.resolve(name)
          val entry: Map[String, Any] =
            if (!Files.exists(o)) Map("mode" -> "snapshot", "expect" -> p1.toJson)
            else {
              val od = Digest.of(spark.read.parquet(o.toString))
              if (p1.sameRows(od) && p1.sameFloats(od))
                Map("mode" -> "oracle", "expect" -> od.toJson)
              else if (ApproxByDesign(name) && p1.sameRows(od))
                Map("mode" -> "oracle_rows", "expect" -> od.toJson)
              else Map("mode" -> "oracle", "expect" -> od.toJson,
                "known_deviation" -> p1.toJson)
            }
          System.err.println(s"[pin] $name: ${entry("mode")}" +
            (if (entry.contains("known_deviation")) " (known deviation)" else ""))
          name -> entry
        }
        val costs = RegistryWorkload.CostsOp ->
          Map("mode" -> "snapshot", "expect" -> RegistryWorkload.costs(spark, dir, None))
        // the stream must keep exactly the content keys its batch twin keeps
        val stream = RegistryWorkload.StreamOp -> Map("mode" -> "batch_twin",
          "expect" -> Digest.of(graft.streaming.StreamingCuration.curatedBatch(spark, dir)
            .select(org.apache.spark.sql.functions.col("norm_hash"))).toJson)
        val out = Map("fixtures" -> "sf0.1", "ops" -> (entries :+ costs :+ stream).toMap)
        Files.writeString(a.expected, Json.value(out) + "\n")
        s"pinned ${entries.length + 2} ops"
    }
  }
}
