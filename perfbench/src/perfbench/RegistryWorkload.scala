package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** `registry_sf0.1`: a seeded sequence over a fixed slice of the
  * production bench registry (`SparkEntry.benchQueries`) on the read-only
  * sf0.1 fixtures, plus two ops the registry does not hold: one `costs` op
  * (profile live statistics, then the full planner/simulator leaderboard)
  * and the streaming curation twin run to completion into its production
  * parquet sink. Each pass runs every op of the slice once in a seeded
  * order; a run times whole passes, so every run samples the same mix.
  * Each op's output is checked against values
  * pinned in `perfbench/expected/registry_sf0.1.json`. */
object RegistryWorkload extends Workload {

  /** The slice: every registry family, from its cheap rows — the
    * job-count-bound regime, where wall ≫ Σtask/cores — plus the composed
    * curation pipeline and the row with the known sf0.1 oracle miss. */
  val OpSet: Seq[String] = Seq(
    "q1_stock_lookup", "denorm_rewrite_q2", "sql_challenge_q1",
    "text_quality_score", "text_inverted_index", "dedup_exact",
    "sim_centroid_by_lang", "sim_ann_lsh_search_filtered_auto_mid",
    "events_value_quantiles", "mm_audio_features", "sketch_distinct_hll",
    "pipeline_curated")

  val CostsOp = "costs_live_leaderboard"
  val StreamOp = "stream_curation"
  val Extra: Seq[String] = Seq(CostsOp, StreamOp)
  /** Nominal length of one pass on 4 cores: a run times
    * ⌈seconds / PassSeconds⌉ whole passes, the same number on any
    * machine. */
  val PassSeconds = 15

  def family(name: String): String = name match {
    case n if n == CostsOp => "costs"
    case n if n == StreamOp => "pipeline"
    case n if n.startsWith("ch5_") || n.startsWith("challenge_") ||
      n.startsWith("sql_") => "costs"
    case n if n.startsWith("curate_") => "text"
    case n => n.takeWhile(_ != '_') match {
      case q if q.matches("q[0-9]+") => "q"
      case f => f
    }
  }

  /** Index lifecycle kind, for the per-kind filesystem-call counters. */
  def kind(name: String): String =
    if (name.contains("_append")) "append"
    else if (name.contains("_delete")) "delete"
    else if (name.contains("_purge")) "maintain"
    else if (name.contains("search") || name.contains("index_query")) "search"
    else "query"

  /** Product ← part, OrderLine ← lineitem (the mapping `Denorm`
    * documents). lineitem carries no customer key, so the supplier key
    * stands in for `IDC`: a join with orders would double the op's cost
    * without exercising any more of the `costs` layer. */
  def costsTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val product = graft.sources.Tables.part(spark, dir).select(
      col("p_partkey").as("IDP"), col("p_brand").as("brand"),
      col("p_type").as("categorie"), col("p_name").as("description"),
      col("p_retailprice").as("price"))
    val orderLine = graft.sources.Tables.lineitem(spark, dir)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("IDL"),
        col("l_partkey").as("IDP"), col("l_suppkey").as("IDC"),
        col("l_quantity").as("quantity"))
    (product, orderLine)
  }

  /** Run the costs op; returns its checkable summary. */
  def costs(spark: SparkSession, dir: String, o: Option[Harness#Op]): Map[String, Any] = {
    def sp[A](name: String)(f: => A): A = o.map(_.span(name, "costs")(f)).getOrElse(f)
    val stats = sp("profile") {
      val (p, ol) = costsTables(spark, dir)
      graft.costs.StatsCollector.profileChallenge(p, ol)
    }
    val (rows, totals, _) = sp("leaderboard")(graft.costs.ChallengeReporting.runAll(stats))
    Map("results" -> rows.length.toLong,
      "ranking" -> graft.costs.ChallengeReporting.ordering(totals).mkString(","),
      "product_docs" -> stats("Product").nbDocuments,
      "orderline_docs" -> stats("OrderLine").nbDocuments,
      "orderline_distinct_idp" -> stats("OrderLine").distinctValues("IDP"))
  }

  /** The streaming curation twin, drained into its parquet sink; the
    * content keys it keeps (which document of a duplicate set survives
    * depends on arrival order, the key set does not). */
  def streamCuration(spark: SparkSession, dir: String, out: String): DataFrame =
    graft.streaming.StreamingCuration.curatedStreamingToParquet(spark, dir, out)
      .select(col("norm_hash"))

  def expected(a: Args): Map[String, Any] =
    JsonRead.parse(Files.readString(a.expected)).asInstanceOf[Map[String, Any]]

  /** Compare a result digest with its pinned expectation. */
  def verdict(exp: Map[String, Any], d: Digest): Verdict = {
    val mode = exp("mode").toString
    val want = Digest.fromJson(exp("expect").asInstanceOf[Map[String, Any]])
    val meets = d.sameRows(want) && (mode == "oracle_rows" || d.sameFloats(want))
    val known = exp.get("known_deviation").map(k =>
      Digest.fromJson(k.asInstanceOf[Map[String, Any]]))
      .exists(k => d.sameRows(k) && d.sameFloats(k))
    val oracle = if (mode == "snapshot") None else Some(meets)
    Verdict(ok = meets, oracle = oracle, unexpected = !meets && !known,
      note = if (meets) "" else s"rows ${d.rows} vs expected ${want.rows}")
  }

  def run(a: Args): String = {
    require(Files.isDirectory(java.nio.file.Paths.get(a.fixtures)),
      s"fixture directory ${a.fixtures} not found")
    val exp = expected(a)("ops").asInstanceOf[Map[String, Map[String, Any]]]
    val missing = (OpSet ++ Extra).filterNot(exp.contains)
    require(missing.isEmpty, s"no pinned expectation for ${missing.mkString(", ")}")
    val queries = SparkEntry.benchQueries

    // set-up: session start (median of three starts), then one untimed
    // warm-up pass over the slice, as graft.Bench warms before timing
    val starts = (1 to 3).map { i =>
      val (s, t) = Main.timedSession(a, s"registry-$i")
      if (i < 3) s.stop()
      t
    }
    val spark = SparkSession.active
    val h = new Harness(a, spark)
    val dir = a.fixtures

    var streams = 0
    def runOne(name: String, timed: Boolean): OpResult =
      if (name == CostsOp) h.op(name, "query", "costs", timed) { o =>
        val got = costs(spark, dir, Some(o))
        val want = exp(name)("expect").asInstanceOf[Map[String, Any]]
        Verdict.check(want.forall { case (k, v) => got.get(k).map(_.toString)
          .contains(v.toString) }, s"leaderboard summary $got")
      } else if (name == StreamOp) h.op(name, "query", "pipeline", timed) { o =>
        streams += 1
        val out = a.work.resolve(s"stream-out-$streams").toString
        val df = o.exec(streamCuration(spark, dir, out))
        verdict(exp(name), o.exec(Digest.of(df)))
      } else h.op(name, kind(name), family(name), timed) { o =>
        val df = o.build(queries(name)(spark, dir))
        verdict(exp(name), o.exec(Digest.of(df)))
      }

    val rng = Rng.of(a.seed, "registry-order", 0)
    val slice = OpSet ++ Extra
    val w0 = System.nanoTime()
    val warm = rng.shuffle(slice.toIndexedSeq).map(runOne(_, timed = false))
    val warmupS = h.since(w0)
    val setupS = Stats.median(starts) + warmupS

    val passes = math.max(1, math.ceil(a.seconds.toDouble / PassSeconds).toInt)
    (1 to passes).foreach(_ => rng.shuffle(slice.toIndexedSeq).foreach(runOne(_, timed = true)))
    val rs = h.results
    val withOracle = rs.filter(_.oracle.nonEmpty)
    val quality = if (withOracle.isEmpty) 0.0
      else withOracle.count(_.oracle.contains(true)).toDouble / withOracle.length
    Report.line(h, Report.Extra(setupS, quality, info = Map(
      "session_start_s" -> starts, "warmup_s" -> warmupS, "passes" -> passes,
      "warmup_op_s" -> warm.map(r => r.name -> r.wallS).toMap,
      "slice" -> slice.length)))
  }
}
