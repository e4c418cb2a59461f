package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Denorm, Events, Multimodal, Relational, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator's registry; each key has
  * a matching `oracleSql` entry (ANSI SQL DuckDB runs over the same parquet
  * fixtures) unless the operation is not SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q5: the reference's widest plan shape — multi-way filtered join
    * (`query_simulator/queries.py:89-123`). */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5OrdersBrandClientJoin(spark, "/root/testdata/sf0.001")

  /** One form per operator, each with a DuckDB replay in [[oracleSql]].
    * Every operator registers the form a user runs at scale, and the
    * DuckDB gate checks that same form (`OracleGateSpec`), except for
    * the three rows in [[productionOverrides]]: there the registered form
    * buys bit-exact DuckDB agreement with per-group state that grows
    * with the group (unbounded postings, exact percentile, uncapped
    * winnow fingerprints), and production substitutes a scale-safe form
    * the unchanged SQL cannot match. */
  private def oracleEntries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.entries ++ TextAnalysis.entries ++ Dedup.entries ++
      Similarity.entries ++ Events.entries ++ Denorm.entries ++
      Multimodal.entries ++ graft.plans.MiniSql.entries +
      // the composed end-to-end curation pipeline, oracle-gated as a whole
      ("pipeline_curated" -> ((s: SparkSession, d: String) =>
        PipelineRun.curated(s, d))) +
      // the provenance-carrying variant (round 15): source id + transform
      // chain surviving dedup, excision, and resample. Registered FLAT
      // (round 16): the driver's comparator lexsorts raw result columns,
      // so the struct API form is unsortable there — the six scalar
      // provenance columns carry identical information (spec-pinned
      // flat ≡ struct in PipelineSpec)
      ("pipeline_curated_lineage" -> ((s: SparkSession, d: String) =>
        PipelineRun.curatedLineageFlat(s, d)))

  /** The three rows whose production form differs from the gated form
    * BY DESIGN — same query name, bounded aggregation state
    * (`ScaleSafetySpec` pins the plan property — no unbounded
    * collect_list / exact percentile anywhere in the production
    * registry — and brackets each against its exact form):
    *   - inverted index: postings capped at 100 via the bounded-heap
    *     top-k operator before collection (df stays exact; the capped
    *     form is ALSO oracle-gated as `text_inverted_index_capped`);
    *   - quantiles: fixed-size `approx_percentile` summaries instead of
    *     exact percentile's buffer-everything state;
    *   - winnow matches: fingerprints df-capped before the self-join
    *     (boilerplate hashes cost df² pairs and carry no signal — the
    *     round-10 Zipfian 100× run measured the uncapped blowup; the
    *     capped form is ALSO oracle-gated as
    *     `text_winnow_matches_capped`).
    * `ProductionRegistrySpec` pins this key set, so a new twin cannot
    * come back without a test edit. */
  def productionOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_inverted_index" -> (TextAnalysis.invertedIndexCapped _),
    "text_winnow_matches" -> (TextAnalysis.winnowMatchesCapped _),
    "events_value_quantiles" -> (Events.valueQuantilesApprox _))

  /** The PRODUCTION registry: every operator as a user would run it at
    * scale — no canonicalization, no global sort, no unbounded per-group
    * buffers. This is what Bench times. */
  def productionQueries: Map[String, (SparkSession, String) => DataFrame] =
    oracleEntries ++ productionOverrides

  /** Deterministic total order over all columns — the one extra operator
    * the ORACLE registry adds on top of [[productionQueries]] so the
    * driver's row-hash compare is order-stable. Applied here at the
    * registry boundary, not inside the operators: production plans carry
    * no global Sort (`ProductionRegistrySpec` pins that on the physical
    * plan). */
  private def canonical(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(df.col).toIndexedSeq: _*)

  /** One entry per implemented operator from SURVEY.md §2 — the gated
    * forms (the production form for every row outside
    * [[productionOverrides]]), canonicalized for the Verify/DuckDB
    * row-hash compare. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    oracleEntries.view.mapValues(fn =>
      (s: SparkSession, d: String) => canonical(fn(s, d))).toMap

  /** Correctness baselines excluded from the TIMED registry: the O(n²)
    * forms exist to prove the LSH/scale paths exact on the fixtures (run
    * by Verify at sf0.01), but must not be *timed* at full n — at sf0.1
    * the three of them were 96% of the r2 bench wall-clock while proving
    * nothing about the scale paths. `sim_ann_ivf` joins the set in round
    * 10: it is the ANN family's full-precision RECALL baseline (its
    * candidate join ships 512 B embeddings — measured at 30× fixture
    * scale: 232× wall with ~60 GB of spill while the SQ/PQ siblings
    * need none), so it gates recall in `SimilaritySpec` and correctness
    * in Verify, while the timed family is the quantized/persisted forms
    * a user would actually run at 100 TB. */
  val baselineOnly: Set[String] = Set(
    "dedup_jaccard_brute", "sim_cosine_topk", "sim_cosine_neardup",
    "sim_ann_ivf")

  /** Bench-only rows — timed but not oracle-gated (each is a re-timed
    * phase of an already-gated query, not new semantics): the persisted
    * index's economics split into its two real phases, so the artifact
    * shows the build-once cost AND the query-many steady state instead
    * of only their sum (`sim_ann_ivfpq_indexed`, which rebuilds per call
    * so the correctness gate always exercises the full path). */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ann_ivfpq_index_build" ->
      (Similarity.annIvfPqIndexBuildBench _),
    "sim_ann_ivfpq_index_query" ->
      (Similarity.annIvfPqIndexQueryBench _),
    // round-11: the index lifecycle's STEADY-STATE rows — append and
    // external search against a cached base artifact, so the artifact's
    // headline index numbers are what a user's daily job actually pays
    // (the oracle-gated delta/search rows price a from-scratch base
    // build per call so the correctness gate exercises the full path)
    "sim_ann_index_append" ->
      (Similarity.annIvfPqIndexAppendBench _),
    "sim_ann_index_search_query" ->
      (Similarity.annIvfPqIndexSearchQueryBench _),
    // round-11: steady state of the two new lifecycle verbs — a
    // takedown batch against a cached index (O(|ids|) tombstone write)
    // and the filtered search against the cached warm artifact
    "sim_ann_index_delete_apply" ->
      (Similarity.annIvfPqIndexDeleteApplyBench _),
    // round-12: the erasure-DEADLINE job — full physical purge pass
    // (every cell rewritten minus tombstoned rows) on a cached artifact
    // with a 10% tombstone load; prices the byte-erasure cost the
    // O(|ids|) tombstone write defers
    "sim_ann_index_purge" ->
      (Similarity.annIvfPqIndexPurgeBench _),
    "sim_ann_index_search_filtered_query" ->
      (Similarity.annIvfPqIndexSearchFilteredQueryBench _),
    // the persisted LSH index's steady state: exchange-free postings
    // side (bucketed table), probes-only shuffle
    "sim_ann_lsh_index_query" ->
      (Similarity.annLshIndexQueryBench _),
    // the capped warm query on the SAME cached artifact (the cap is a
    // query-time bucket_rank knob) — isolates what the skew fuse buys
    // on the row that measured the 50.9×-at-30× blowup
    "sim_ann_lsh_capped_index_query" ->
      (Similarity.annLshCappedIndexQueryBench _))

  /** The scale-path queries Bench times: production (un-canonicalized)
    * forms, minus the O(n²) oracle baselines. The composed curation
    * pipeline rides along like any other operator — it is registered in
    * [[queries]] with its own end-to-end oracle
    * ([[PipelineRun.curatedOracle]]). */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    productionQueries ++ benchOnly -- baselineOnly

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver records a weaker
    * rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextAnalysis.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ Events.oracles ++ Denorm.oracles ++
      Multimodal.oracles ++ graft.plans.MiniSql.oracles +
      ("pipeline_curated" -> PipelineRun.curatedOracle) +
      ("pipeline_curated_lineage" -> PipelineRun.curatedLineageOracle)
}
