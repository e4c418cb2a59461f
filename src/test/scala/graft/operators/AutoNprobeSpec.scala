package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, transform, when, lit}

import graft.TestSpark

/** The scale-aware ANN defaults (round-12): nprobe derived from the
  * index's own cell count (hold the probe FRACTION as the corpus grows
  * — the round-11 frontier measured recall@3 falling 0.515 → 0.300 at a
  * FIXED nprobe from 1× to 10×), and the filtered search additionally
  * scaled by the filter's inverse selectivity (the measured 0.17 recall
  * penalty of a 14% filter at 1×). The derivation must resolve to
  * exactly the oracle-gated configuration at fixture scale, so every
  * sim_ann_* correctness row stays green under the auto default. */
class AutoNprobeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("auto nprobe holds the probe fraction, floored and capped") {
    // fixture scales resolve to the oracle-gated 8: sf0.01 trains 23
    // cells (500 vectors), sf0.1 trains 45 (2 000 vectors — the
    // calibration point, fraction 8/45)
    assert(Similarity.resolveNprobe(Similarity.AutoProbes, 23) == 8)
    assert(Similarity.resolveNprobe(Similarity.AutoProbes, 45) == 8)
    // scaled corpora probe the same FRACTION: 10× (cells 142) and 30×
    // (cells 245) of the bench fixture
    assert(Similarity.resolveNprobe(Similarity.AutoProbes, 142) == 25)
    assert(Similarity.resolveNprobe(Similarity.AutoProbes, 245) == 44)
    // a tiny index cannot probe more cells than it has
    assert(Similarity.resolveNprobe(Similarity.AutoProbes, 4) == 4)
    // explicit values pass through untouched — the user's override
    assert(Similarity.resolveNprobe(16, 1000000) == 16)
  }

  test("filtered auto nprobe scales by inverse selectivity, capped at cells") {
    // a 14% filter at the bench fixture: 8 / 0.143 ≈ 56, capped at the
    // 45 cells — the search degrades to a PQ-coded scan of the allowed
    // rows, which is the correct heavy-filter economics
    assert(Similarity.resolveFilteredNprobe(8, 45, 286, 2000) == 45)
    // a mild 50% filter doubles the probe budget instead
    assert(Similarity.resolveFilteredNprobe(8, 1000, 500000, 1000000) == 16)
    // at 10× scale the auto base (25) with the same 14% filter caps too
    assert(Similarity.resolveFilteredNprobe(25, 142, 2857, 20000) == 142)
    // an unselective filter changes nothing
    assert(Similarity.resolveFilteredNprobe(8, 45, 2000, 2000) == 8)
    // an empty allowed set must not divide by zero
    assert(Similarity.resolveFilteredNprobe(8, 45, 0, 2000) == 45)
  }

  test("at fixture scale the auto default is row-identical to nprobe=8") {
    // THE oracle-stability property: every persisted-index correctness
    // row runs under the auto default, so auto must reproduce the
    // fixed-knob answers exactly at the gate's scale
    val root = java.nio.file.Files.createTempDirectory("graft_autonp")
    try {
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val auto = Similarity.annIvfPqIndexed(spark, dir, root.toString)
        .collect().toSet
      val fixed = Similarity.annIvfPqIndexed(spark, dir, root.toString,
        nprobe = 8).collect().toSet
      assert(auto.nonEmpty && auto == fixed)
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("the auto filtered search recovers the filter's recall penalty") {
    // frontier methodology at fixture scale: exact top-3 among the
    // allowed slice as ground truth; the auto rule (which here probes
    // every cell — 8/0.143 > 23) must land within 0.05 recall of the
    // UNfiltered auto search measured against its own ground truth,
    // where the fixed nprobe=8 filtered search measurably cannot
    val root = java.nio.file.Files.createTempDirectory("graft_autoflt")
    try {
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val dv = transform(col("embedding"), x => x.cast("double"))
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), dv.as("ev"))
      val pert = transform(col("ev"),
        (x, i) => when(i < 4, x + lit(0.05)).otherwise(x))
      val q = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 300000L).as("query_id"), pert.as("qev"))
      val allowed = e.filter(col("vec_id") % 7 === 0).select(col("vec_id"))

      def exactTop3(restrict: Boolean): Map[Long, Set[Long]] = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        val nb0 = e.select(col("vec_id").as("neighbor_id"),
          col("ev").as("b_ev"))
        val nb = if (restrict) nb0.filter(col("neighbor_id") % 7 === 0)
                 else nb0
        nb.crossJoin(q)
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosine(col("qev"), col("b_ev")).as("cosine"))
          .withColumn("rnk",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("query_id"), col("neighbor_id"))
          .collect().groupBy(_.getLong(0))
          .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
      }
      def recallOf(res: org.apache.spark.sql.DataFrame,
          exact: Map[Long, Set[Long]]): Double = {
        val got = res.select(col("query_id"), col("neighbor_id"))
          .collect().groupBy(_.getLong(0))
          .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
        exact.map { case (v, ex) =>
          (ex intersect got.getOrElse(v, Set.empty)).size.toDouble / ex.size
        }.sum / exact.size
      }
      val unfiltered = recallOf(
        Similarity.searchIvfPqIndex(spark, q, dir, root.toString),
        exactTop3(restrict = false))
      val filteredAuto = recallOf(
        Similarity.searchIvfPqIndexFiltered(spark, q, dir, root.toString,
          allowed),
        exactTop3(restrict = true))
      info(f"recall@3 unfiltered(auto)=$unfiltered%.3f " +
        f"filtered(auto)=$filteredAuto%.3f")
      assert(filteredAuto >= unfiltered - 0.05,
        f"auto rule failed to recover the filter penalty: " +
          f"$filteredAuto%.3f vs $unfiltered%.3f")
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("concentration-weighted auto: clustered index keeps the floor, isotropic holds the fraction") {
    // round-13 measurement, made a default: at 8 000 synthetic vectors
    // the index trains ~90 cells, so the fraction-held rule says ~16
    // probes — on the ISOTROPIC synthesis (build mean_cos ≈ 0.34,
    // below the 0.40 calibration bound) that is what auto must resolve
    // to, while on the CLUSTERED mixture (mean_cos ≈ 0.80, above the
    // 0.73 bound) recall was measured flat from nprobe 4 to the held
    // fraction, so auto must keep the nprobe-8 floor instead of paying
    // 7×-at-30× wall for nothing. describeIndex exposes the resolved
    // value, so the dashboard's auto_nprobe is the dial under test.
    val n = 8000L
    def autoOf(df: org.apache.spark.sql.DataFrame): (Long, Int) = {
      val root = java.nio.file.Files.createTempDirectory("graft_conc")
      try {
        Similarity.buildIvfPqIndexProdOn(spark, df, root.toString)
        val row = Similarity.describeIndex(spark, root.toString).head()
        (row.getAs[Long]("cells"), row.getAs[Int]("auto_nprobe"))
      } finally graft.streaming.StreamingStaging.deleteRecursively(root)
    }
    val (isoCells, isoAuto) =
      autoOf(graft.StressScale.synthEmbeddings(spark, n))
    assert(isoCells > 45, s"fixture too small to observe the dial: $isoCells")
    assert(isoAuto == Similarity.resolveNprobe(Similarity.AutoProbes,
      isoCells),
      s"isotropic corpus must keep the fraction-held rule: $isoAuto")
    assert(isoAuto > 8)
    val (cluCells, cluAuto) =
      autoOf(graft.StressScale.synthEmbeddingsClustered(spark, n))
    assert(cluCells > 45)
    assert(cluAuto == 8,
      s"clustered corpus must keep the measured-flat floor: $cluAuto")
  }

  test("appends drift the concentration and the dial follows without a retrain") {
    // round-14: the dial reads the VECTOR-WEIGHTED concentration of
    // build + committed append stats rows, not the day-0 calibration
    // alone. Build a 3 000-vector isotropic index (mean_cos ≈ 0.34 →
    // fraction-held, auto 10 of 55 cells), then append 2×3 000 vectors
    // that sit ON the frozen centroids (per-batch mean_cos ≈ 1.0):
    // the weighted mean crosses the 0.73 clustered calibration bound
    // (3000·0.34 + 6000·1.0)/9000 ≈ 0.78, so auto must scale back to
    // the nprobe-8 floor — the corpus the index now actually serves is
    // concentrated, and the held fraction would buy +0.000 recall at
    // real wall cost (the round-13 clustered measurement).
    val root = java.nio.file.Files.createTempDirectory("graft_concdrift")
    try {
      val base = graft.StressScale.synthEmbeddings(spark, 3000L)
      Similarity.buildIvfPqIndexProdOn(spark, base, root.toString)
      val before = Similarity.describeIndex(spark, root.toString).head()
      val cells = before.getAs[Long]("cells")
      assert(before.getAs[Int]("auto_nprobe") ==
        Similarity.resolveNprobe(Similarity.AutoProbes, cells))
      assert(before.getAs[Int]("auto_nprobe") > 8,
        "base must start above the floor to observe the dial move")
      // appended vectors = copies of the trained centroids (unit
      // assignment cosine), disjoint vec_ids per batch
      val cent = spark.read.parquet(s"$root/centroids.parquet")
      def centroidCopies(offset: Long): org.apache.spark.sql.DataFrame =
        cent.crossJoin(spark.range(
              (3000L + cent.count() - 1) / cent.count()).select(
            col("id").as("rep")))
          .select((lit(offset) + col("centroid_id") * 1000L + col("rep"))
              .as("vec_id"),
            transform(col("cv"), x => x.cast("float")).as("embedding"))
          .limit(3000)
      Similarity.appendToIvfPqIndexProd(spark,
        centroidCopies(10000000L), root.toString, "drift-a")
      Similarity.appendToIvfPqIndexProd(spark,
        centroidCopies(20000000L), root.toString, "drift-b")
      val after = Similarity.describeIndex(spark, root.toString).head()
      assert(after.getAs[Long]("committed_appends") == 2L)
      assert(after.getAs[Int]("auto_nprobe") == 8,
        "appends pushed the weighted concentration across the " +
          s"clustered bound; the dial must follow to the floor: " +
          s"${after.getAs[Int]("auto_nprobe")}")
      // the dashboard surfaces the weighted concentration the dial
      // read, so the operator can SEE the crossing: before ≈ the
      // isotropic build stamp (< 0.40), after ≥ the 0.73 bound
      assert(before.getAs[Double]("effective_mean_cos") < 0.40,
        s"${before.getAs[Double]("effective_mean_cos")}")
      assert(after.getAs[Double]("effective_mean_cos") >= 0.73,
        s"${after.getAs[Double]("effective_mean_cos")}")
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }
}
