package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  CollectList, CollectSet, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 scale contract: NO query in the production registry may
  * aggregate an unbounded per-group buffer. The three gated forms that
  * do (unbounded postings, exact percentile, uncapped winnow
  * fingerprints) stay in the oracle registry only; their production
  * substitutes (`SparkEntry.productionOverrides`) must stay within a
  * bracket of them on the fixtures — pinned here — while keeping
  * fixed-size aggregation state.
  */
class ScaleSafetySpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    graft.plans.TopKPlanning.register(s)
    s
  }
  private val dir = TestSpark.sfDir

  /** Offending aggregate functions in a production plan: exact Percentile
    * anywhere, and CollectList/CollectSet whose input is not rank-bounded
    * (i.e. no bounded-heap TopKPerKey below the aggregate — the rewrite
    * that caps the group before collection). */
  private def unboundedAggs(plan: LogicalPlan): Seq[String] = {
    def hasTopKBelow(p: LogicalPlan): Boolean =
      p.collectFirst { case t: graft.plans.TopKPerKey => t }.nonEmpty
    plan.collect {
      case node if node.expressions.nonEmpty =>
        node.expressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction match {
            case _: Percentile => Some("exact percentile")
            case _: CollectList =>
              if (node.children.exists(hasTopKBelow)) None
              else Some("unbounded collect_list")
            case _: CollectSet =>
              if (node.children.exists(hasTopKBelow)) None
              else Some("unbounded collect_set")
            case _ => None
          }
        }.flatten)
    }.flatten
  }

  /** The sanctioned collect_list families — cases where the collected
    * array's boundedness is a DATA-MODEL contract, not a query
    * implementation choice:
    *   - the D3 one-to-many embeds (`Denorm.linesEmbedded`), where the
    *     array IS the operator's output — a nested document whose length
    *     is the embed fanout the reference's own cost model prices
    *     (`avg_array_lengths`, challenge/models.py); you embed orderLines
    *     in products precisely because a part has bounded lines;
    *   - span excision (`Dedup.spanExcise`), which reassembles each
    *     document's surviving words — a per-DOCUMENT buffer bounded by
    *     document length; rebuilding a document's text requires that
    *     document's words in one place by definition.
    * Documented in SCALING.md §denorm / §dedup. */
  private val embedOutputQueries =
    Set("denorm_embed_many", "denorm_embed_agg", "dedup_span_excise",
      // the lineage pipeline's excision stage IS spanExciseOn — the same
      // per-document reassembly buffer, same data-model bound
      "pipeline_curated_lineage")

  test("no production plan aggregates an unbounded per-group buffer") {
    for ((name, fn) <- SparkEntry.productionQueries.toSeq.sortBy(_._1)
         if !embedOutputQueries.contains(name)) {
      val plan = fn(spark, dir).queryExecution.optimizedPlan
      val bad = unboundedAggs(plan)
      assert(bad.isEmpty,
        s"$name production plan has ${bad.mkString(", ")}:\n$plan")
    }
  }

  test("the timed ANN registry is the quantized/persisted family only") {
    // round-10 demotion: the full-precision IVF form is the family's
    // RECALL baseline (SimilaritySpec), not a query a user should run at
    // 100 TB — its candidate join ships 512 B embeddings and measured
    // 232× wall with ~60 GB of spill at 30× fixture scale (SCALING.md).
    // It stays oracle-gated in Verify; the TIMED family is the forms
    // whose candidate joins carry codes or bounded rerank rows.
    assert(SparkEntry.baselineOnly.contains("sim_ann_ivf"))
    assert(!SparkEntry.benchQueries.contains("sim_ann_ivf"))
    val annTimed = SparkEntry.benchQueries.keySet.filter(_.startsWith("sim_ann"))
    assert(annTimed == Set("sim_ann_lsh", "sim_ann_lsh_capped",
      "sim_ann_ivf_sq", "sim_ann_ivfpq",
      "sim_ann_ivfpq_indexed", "sim_ann_index_delta", "sim_ann_index_search",
      "sim_ann_index_delete", "sim_ann_index_search_filtered",
      "sim_ann_index_delete_apply", "sim_ann_index_search_filtered_query",
      "sim_ann_index_purge", "sim_ann_lsh_index_delete",
      "sim_ann_ivfpq_index_build", "sim_ann_ivfpq_index_query",
      "sim_ann_index_append", "sim_ann_index_search_query",
      "sim_ann_lsh_indexed", "sim_ann_lsh_index_query",
      "sim_ann_lsh_capped_indexed", "sim_ann_lsh_capped_index_query",
      "sim_ann_lsh_search", "sim_ann_lsh_search_filtered",
      "sim_ann_lsh_search_filtered_auto",
      "sim_ann_lsh_search_filtered_auto_mid"),
      s"unaudited ANN query entered the timed registry: $annTimed")
  }

  /** Flatten an executed plan across AQE wrappers/stages. */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case r: ReusedSubqueryExec => flatten(r.child)
      case other => other.children.flatMap(flatten)
    })
  }

  private def isVectorType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        et == org.apache.spark.sql.types.DoubleType ||
          et == org.apache.spark.sql.types.FloatType
      case _ => false
    }

  test("PQ-family plans never move vectors through a super-linear exchange/sort") {
    // What actually killed the full-precision IVF form at 30× was not
    // that a join OUTPUT carried embeddings (the sanctioned asymmetric
    // rank joins the query vector onto every candidate WITHIN a stage
    // and drops it before the window sort) — it was candidate-scale
    // rows CARRYING a 512 B vector crossing an Exchange: its second
    // rerank join repartitions the (candidate × a_ev) relation by
    // neighbor_id, ~520 B × probes·occupancy·n rows of shuffle (the
    // measured ~60 GB spill). At 100 TB nothing broadcasts, so every
    // join is exchange-backed; model that here by DISABLING broadcast
    // (explicit broadcast() hints — the ≤8 MB centroid tables — stay)
    // and assert: every ShuffleExchange whose rows carry a
    // vector column moved ≤ 60·n rows. Linear passes are ≤ n (the
    // source table), the bounded rerank is ≤ LshPreK·n ≈ 48·n (a
    // CONSTANT per query), while the baseline's candidate expansion is
    // probes·occupancy·n ≈ 174·n here and grows as √n·n. The demoted
    // baseline must VIOLATE the bound — the negative control proving
    // the gate has teeth.
    val n = graft.sources.Tables.embeddings(spark, dir).count()
    val bound = 60L * n
    def maxVectorExchangeRows(df: org.apache.spark.sql.DataFrame)
        : (Long, String) = {
      // collect(), not count(): count() compiles a SEPARATE pruned plan,
      // leaving this plan's metrics untouched (and its vector columns
      // pruned away) — collect() executes df's own queryExecution
      df.collect()
      flatten(df.queryExecution.executedPlan)
        .filter(p => p.isInstanceOf[
            org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] &&
          p.output.exists(a => isVectorType(a.dataType)))
        // shuffle exchanges carry no numOutputRows; the records-written
        // metric is the row count that crossed the wire
        .flatMap(p => p.metrics.get("shuffleRecordsWritten").map(m =>
          (m.value, p.nodeName + ": " + p.simpleStringWithNodeId())))
        .foldLeft((0L, "none"))((acc, x) => if (x._1 > acc._1) x else acc)
    }
    val savedAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf
      .get("spark.sql.adaptive.autoBroadcastJoinThreshold", savedAuto)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // sim_ann_ivf_sq joined the strict set in round 10: its candidate
      // join now ships 64×1 B int8 codes (array<tinyint> — not a
      // vector-typed column) and both decodes run in-stage, the same
      // shape as the LSH/PQ forms
      // (sim_ann_index_append is absent for the same reason as
      // sim_ann_ivfpq_index_build: it is a WRITE whose jobs run eagerly
      // inside the call — the returned frame is a 1-row receipt, so
      // auditing its plan would be vacuous. Its shuffled rows are the
      // ≤24 B (vec_id, b_code, centroid_id) postings by construction,
      // and PersistedIndexSpec pins that no embedding column reaches
      // the postings artifact.)
      val strict = Seq("sim_ann_lsh", "sim_ann_lsh_capped",
        "sim_ann_ivf_sq", "sim_ann_ivfpq",
        "sim_ann_ivfpq_indexed", "sim_ann_index_delta",
        "sim_ann_index_search", "sim_ann_ivfpq_index_query",
        "sim_ann_index_search_query",
        // the erasure and metadata-filter forms restrict the SAME
        // indexed-query/search plans (broadcast anti/semi joins on id
        // lists) — candidate exchanges still carry only 8 B codes.
        // (sim_ann_index_delete_apply is absent like the other WRITE
        // rows: it returns a 1-row receipt; its only moved data is the
        // O(|ids|) tombstone list.)
        "sim_ann_index_delete", "sim_ann_index_search_filtered",
        "sim_ann_index_search_filtered_query",
        "sim_ann_lsh_indexed", "sim_ann_lsh_index_query",
        "sim_ann_lsh_capped_indexed", "sim_ann_lsh_capped_index_query",
        "sim_ann_lsh_search",
        "sim_neardup_lsh", "dedup_semantic")
      for (name <- strict) {
        val (got, node) = maxVectorExchangeRows(
          SparkEntry.benchQueries(name)(spark, dir))
        assert(got <= bound,
          s"$name moves vectors through a super-linear exchange/sort: " +
            s"$got rows > $bound at $node")
        spark.catalog.clearCache()
      }
      // negative control: the full-precision form blows the same bound —
      // which is exactly why it is baselineOnly
      val (baseline, _) = maxVectorExchangeRows(
        graft.operators.Similarity.annIvfProd(spark, dir))
      assert(baseline > bound,
        s"negative control failed: annIvfProd max vector exchange/sort rows " +
          s"$baseline <= $bound — the bound no longer discriminates; re-derive it")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedAuto)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", savedAqe)
      spark.catalog.clearCache()
    }
  }

  test("production quantiles land within a ±2-rank-percent exact bracket") {
    import org.apache.spark.sql.functions.{col, expr}
    // approx_percentile returns an actual data value with bounded RANK
    // error, while exact percentile interpolates — so the right check is a
    // rank bracket, not a value tolerance (in a small group's tail,
    // adjacent order statistics can be far apart in value)
    val bracket = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, array(0.48D, 0.52D, 0.93D, 0.97D, 0.97D, 1.0D))")
          .as("b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val prod = graft.operators.Events.valueQuantilesApprox(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(prod.keySet == bracket.keySet)
    for ((k, (p50, p95, p99)) <- prod) {
      val b = bracket(k)
      assert(p50 >= b(0) && p50 <= b(1), s"$k p50=$p50 outside [${b(0)}, ${b(1)}]")
      assert(p95 >= b(2) && p95 <= b(3), s"$k p95=$p95 outside [${b(2)}, ${b(3)}]")
      assert(p99 >= b(4) && p99 <= b(5), s"$k p99=$p99 outside [${b(4)}, ${b(5)}]")
    }
  }

  test("capped inverted index is the exact index truncated to 100 postings") {
    val exact = graft.operators.TextAnalysis.invertedIndex(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val capped = graft.operators.TextAnalysis.invertedIndexCapped(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getBoolean(3))).toMap
    assert(capped.keySet == exact.keySet)
    var truncSeen = false
    for ((tok, (df, postings, truncated)) <- capped) {
      val (dfE, postingsE) = exact(tok)
      assert(df == dfE, s"df mismatch at $tok") // df stays EXACT under the cap
      val expected = postingsE.split(',').take(100).mkString(",")
      assert(postings == expected, s"postings mismatch at $tok")
      assert(truncated == (dfE > 100), s"truncated flag wrong at $tok")
      truncSeen |= truncated
    }
    assert(truncSeen, "fixture never exercised the cap — raise sf or lower cap")
  }

  test("capped winnow matches are the exact matches minus boilerplate-df pairs") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val exact = graft.operators.TextAnalysis.winnowMatches(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = graft.operators.TextAnalysis.winnowMatchesCapped(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped.nonEmpty)
    // the cap only REMOVES hash contributions: every capped pair exists
    // in the exact result with an equal-or-larger shared count
    for ((pair, n) <- capped) {
      assert(exact.contains(pair), s"capped invented pair $pair")
      assert(n <= exact(pair), s"capped inflated n_shared at $pair")
    }
    // and the fixture actually exercises the cap — some fingerprint has
    // df > cap, so the two results differ (else raise sf or lower cap)
    assert(capped != exact,
      "fixture never exercised the df cap — raise sf or lower the cap")
  }

  test("scan-side quantization plan is explode-, join- and shuffle-free") {
    // the codes and errors themselves are gated against the DuckDB
    // replay (sim_quantize_sq, OracleGateSpec); this pins the plan: a
    // single project over the scan (plus the tiny stats job run
    // beforehand)
    val plan = graft.operators.Similarity.quantizeSqProd(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Exchange"), plan)
  }

  test("quantization error honors the half-bin analytical bound") {
    import org.apache.spark.sql.functions.{col, max, min, posexplode}
    // midpoint decode ⇒ |x − x̂| ≤ (hi−lo)/512 per dimension; the
    // reported max_err must respect the WIDEST dimension's bound (small
    // fp slack for the decode arithmetic itself)
    val stats = graft.sources.Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("d"), col("xf").cast("double").as("x"))
      .groupBy(col("d"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
    val widest = stats.map(r => r.getDouble(2) - r.getDouble(1)).max
    val bound = widest / 512.0 * (1.0 + 1e-9) + 1e-12
    val errs = graft.operators.Similarity.quantizeSqProd(spark, dir)
      .select(org.apache.spark.sql.functions.col("max_err"))
      .collect().map(_.getDouble(0))
    assert(errs.nonEmpty)
    assert(errs.max <= bound,
      f"max_err ${errs.max}%.6g exceeds half-bin bound $bound%.6g")
    // and quantization is actually lossy (codes are 8-bit, data is float)
    assert(errs.max > 0.0)
  }
}
