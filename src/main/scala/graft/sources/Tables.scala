package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over the driver fixtures (TESTDATA.md).
  *
  * The reference models collections declaratively (JSON Schemas +
  * statistics, reference `main.py:114-134`, `challenge/loader.py:35-107`);
  * here a "collection" is a real parquet-backed DataFrame. Scans go
  * through `spark.read.parquet` so Catalyst's FileSourceScanExec gets
  * predicate pushdown + column pruning for free — the rebuild's analog of
  * the reference's full/shard/index scan strategies
  * (`challenge/simulator.py:57-67`) is partition pruning + row-group
  * skipping, which need no hand-rolled access-path selection.
  *
  * Scale note: at 100 TB these would be partitioned/bucketed table roots
  * rather than single files; all call sites take the directory as a
  * parameter so the layout can change without touching operators.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session configs every graft entry point needs.
    *   - `nanosAsLong`: the events fixture stores parquet INT64
    *     TIMESTAMP(NANOS), which Spark 4.x refuses to read natively —
    *     surfaced as a long that [[events]] converts to a microsecond
    *     timestamp.
    *   - object-hash fallback threshold: the sketch aggregates
    *     (`graft.functions.MinHashSketch`/`SimHashSketch`) run under
    *     ObjectHashAggregateExec, whose default 128-key fallback degrades
    *     to sort-based aggregation on any realistic group count; the
    *     buffers are small (≤512 B/group), so hash aggregation stays the
    *     right plan well past this bound.
    *   - `InferFiltersFromGenerate` excluded (round 17): the rule adds
    *     `size(e) > 0 AND isnotnull(e)` below every non-outer explode,
    *     and after CollapseProject inlines the projection, `e` is the
    *     full generator child — so every expensive generator expression
    *     in the registry (`word_shingles`, `minhash_bands_of`,
    *     `bloom_shingle_filter(word_shingles(..))`) was evaluated up to
    *     THREE times per corpus row (plan audit: the inferred Filter
    *     carried the whole MinHash sketch twice next to the Generate's
    *     own copy in dedup_incremental / dedup_minhash_lsh /
    *     text_decontaminate{,_bloom}). Results are identical without
    *     the rule: a non-outer Generate already emits nothing for
    *     null/empty arrays, which is exactly the rows the inferred
    *     filter dropped — it only pre-trims Generate input, it never
    *     changes output. Scale-independent: at 100 TB the duplicate
    *     evaluations are full corpus re-scans of the costliest scalar
    *     work the pipeline does. `excludedRules` is a whole-value
    *     comma-separated list, so the rule is APPENDED to any list the
    *     launcher supplied ([[excludedRules]]) rather than replacing it.
    *   - `canChangeCachedPlanOutputPartitioning` deliberately left at
    *     its default (false) — round 17 tried `true` (AQE coalescing of
    *     cached-plan partitions removes ~250 ms/task of block-manager
    *     lock contention on tiny 32-partition cache builds at 1×) and
    *     the 10× trend gate rejected it: byte-based coalescing collapses
    *     a small persisted frame to ONE partition, and every downstream
    *     consumer whose COMPUTE is amplified past its input bytes (the
    *     LSH candidate joins — kilobytes of buckets in, tens of millions
    *     of candidate pairs out) runs single-threaded
    *     (`sim_ann_lsh_capped` 3.0 → 24.0 s min-merged at 10×,
    *     session spreads to 59 s). Cached-partition counts here must
    *     follow the static parallelism knob, which the launcher already
    *     scales with the core count. */
  def requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    "spark.sql.optimizer.excludedRules" -> excludedRules)

  private val InferFiltersFromGenerate =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** The launcher's exclusion list (spark-submit `--conf` and
    * spark-defaults reach the application JVM as `spark.*` system
    * properties) with `InferFiltersFromGenerate` appended unless it is
    * already there. Without a launcher list this is the rule alone. */
  private def excludedRules: String =
    (sys.props.get("spark.sql.optimizer.excludedRules").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty) :+
      InferFiltersFromGenerate).distinct.mkString(",")

  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  /** `ts` normalizes to a microsecond [[org.apache.spark.sql.types.TimestampType]]
    * whatever the fixture generation stored:
    *   - INT64 TIMESTAMP(NANOS) (surfaced as long via [[requiredConfs]]):
    *     integer division (`DIV` — exact long arithmetic; a double
    *     division would round at 1e18 magnitudes) truncates exactly like
    *     DuckDB's native TIMESTAMP_NS → TIMESTAMP read of the same file;
    *   - native TIMESTAMP/TIMESTAMP_NTZ micros: a cast under the UTC
    *     session timezone, which preserves the stored wall-clock value
    *     bit-for-bit. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** The `ts` normalization above for ANY events frame — batch or
    * streaming (the streaming twins stage the same parquet, so they
    * dispatch on the same schema). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register all fixture tables as temp views so `spark.sql` works over
    * them (mini-SQL front end, SURVEY §2.3). `events` goes through the
    * timestamp conversion above, not the raw long-nanos read. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
