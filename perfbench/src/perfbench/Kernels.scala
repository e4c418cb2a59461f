package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HtmlFunctions, SketchFunctions, SketchScalarFunctions,
  StringFunctions, VectorFunctions}

/** Per-kernel cost of the native Catalyst expressions, in ns per input
  * row, each evaluated through the same Column entry points the operators
  * use, over seeded inputs shaped like the fixtures (64-dim embeddings,
  * 16×16×4 PQ codebook, 40–160-word documents). Inputs are cached before
  * timing; each figure is the best of five passes of one aggregate job,
  * after two untimed passes, and includes the job's fixed scan-and-reduce
  * cost, which `functions.baseline` reports on its own. */
object Kernels {
  val Names: Seq[String] = Seq("baseline", "pq_assign", "pq_packed_cosine",
    "pq_asym_cosine", "cosine", "minhash_bands", "simhash_bands", "winnow",
    "html_extract", "bloom_positions", "hll_update")

  def nsPerRow(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    val nVec = 60000L
    val nDoc = 12000L
    val r = Rng.of(seed, "kernel-codebook", 0)
    val cb = Array.fill(16, 16, 4)(r.nextGaussian() * 0.1)
    val vecs = Inputs.embeddings(spark, seed, 0, nVec)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x => x.cast("double")).as("ev"),
        xxhash64(col("vec_id"), lit(seed)).as("code_a"),
        xxhash64(col("vec_id"), lit(seed + 1)).as("code_b"))
      .persist(StorageLevel.MEMORY_ONLY)
    val docs = Inputs.documents(spark, seed, nDoc)
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")).as("html"))
      .withColumn("sh", StringFunctions.word_shingles(col("ws"), 3))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      vecs.count(); docs.count()
      def time(df: DataFrame, rows: Long, c: Column, agg: Boolean = false): Double = {
        val q = if (agg) df.groupBy((col("vec_id") % 16).as("g")).agg(c.as("x"))
          else df.select(c.as("x"))
        val job = q.agg(max(xxhash64(col("x"))))
        job.collect(); job.collect()
        (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          job.collect()
          (System.nanoTime() - t0).toDouble / rows
        }.min
      }
      val sh1 = element_at(col("sh"), 1)
      Seq(
        "baseline" -> time(vecs, nVec, col("code_a")),
        "pq_assign" -> time(vecs, nVec,
          VectorFunctions.pq_assign(col("embedding"), cb, 4).getField("packed")),
        "pq_packed_cosine" -> time(vecs, nVec,
          VectorFunctions.pq_packed_cosine(col("code_a"), col("code_b"), cb)),
        "pq_asym_cosine" -> time(vecs, nVec,
          VectorFunctions.pq_asymmetric_cosine(col("ev"), col("code_b"), cb, 4)),
        "cosine" -> time(vecs, nVec,
          VectorFunctions.cosine_similarity(col("ev"), reverse(col("ev")))),
        "minhash_bands" -> time(docs, nDoc,
          SketchScalarFunctions.minhash_bands_of(col("sh"), 64, 16)),
        "simhash_bands" -> time(docs, nDoc, SketchScalarFunctions.simhash_bands_of(col("sh"))),
        "winnow" -> time(docs, nDoc, StringFunctions.winnow_fingerprints(col("ws"), 3, 4)),
        "html_extract" -> time(docs, nDoc, HtmlFunctions.html_extract_text(col("html"))),
        "bloom_positions" -> time(docs, nDoc, SketchScalarFunctions.bloom_positions(sh1)),
        "hll_update" -> time(vecs, nVec,
          SketchFunctions.hll_registers(col("code_a"), 64, 54), agg = true))
    } finally { vecs.unpersist(); docs.unpersist() }
  }
}
