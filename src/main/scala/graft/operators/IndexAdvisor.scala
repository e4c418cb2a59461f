package graft.operators

import scala.jdk.CollectionConverters._

/** What a deployment can actually measure about its corpus before
  * choosing an index family: row count, and (optionally) the mean
  * assignment cosine a trial [[Similarity.buildIvfPqIndexProdOn]] build
  * stamps into `_stats/build.parquet` — the concentration statistic the
  * auto-probe dial is calibrated on. */
final case class CorpusStats(
    nVectors: Long,
    concentration: Option[Double] = None)

/** The workload axes the measured frontier discriminates on.
  * `filterSelectivity` is the fraction of the corpus a typical metadata
  * filter keeps (None = unfiltered searches). */
final case class AnnWorkload(
    continuousIngest: Boolean = false,
    erasureDeadlines: Boolean = false,
    filterSelectivity: Option[Double] = None,
    latencyPinned: Boolean = false)

/** A recommendation that carries its evidence: the expected operating
  * point interpolated from MEASURED frontier rows, and a citation
  * naming the artifact file, the rows used, and the numbers that
  * decided — never a bare verdict. */
final case class IndexRecommendation(
    family: String,
    expectedRecallAt3: Double,
    expectedWarmWallSec: Double,
    expectedShuffleMb: Double,
    citation: String)

/** The ANN family router round 12's rejected advisor should have been.
  *
  * Round 12 derived an ANALYTIC candidate-count model (expected probe-
  * neighborhood mass from the bucket histogram) and measured that it
  * recommends exactly backwards — candidate COUNT is not the cost
  * driver; per-bucket join skew and shuffle-compression asymmetry
  * dominate, effects no histogram arithmetic sees (SCALING.md round
  * 12). So this router contains NO model: it interpolates the measured
  * frontier artifacts checked into `frontier/` (recall@3 / warm wall /
  * shuffle bytes per family per scale point, measured by
  * [[graft.Frontier]] and re-measured each time the dial changes) and
  * reproduces the selection calls SCALING.md itself makes:
  *
  *   - continuous-ingest / erasure-deadline pipelines → the IVF-PQ
  *     artifact: structural, not interpolated — LSH postings live in a
  *     bucketed table whose file names encode the bucket id, so the
  *     rename-based exactly-once append protocol does not transfer;
  *     the LSH artifact is rebuild-per-corpus-version
  *     (`Similarity.buildLshIndexProd` scaladoc).
  *   - filtered workloads → whichever family's measured FILTERED point
  *     (both under their selectivity-scaled compensation dials) holds
  *     recall at the workload's scale; ties on recall (within 0.05) go
  *     to the lower warm wall.
  *   - otherwise → the measured warm-query rows decide: LSH only where
  *     it is actually faster at matched recall (the latency-pinned
  *     small-corpus niche); the IVF-PQ artifact everywhere the frontier
  *     shows LSH's candidate join paying order-of-magnitude shuffle
  *     (886 vs 42 MB at 10× — the measured 21× that killed the
  *     analytic model's "LSH moves fewer rows").
  *
  * Scale points between measurements interpolate linearly in log n;
  * points beyond the measured range clamp to the nearest measurement
  * and say so in the citation (extrapolation is where analytic models
  * go to lie). */
object IndexAdvisor {

  private final case class FrontierRow(
      form: String, n: Long, recall: Double, wall: Double, shuffleMb: Double)

  /** Rows of one checked-in frontier artifact, grouped by form and
    * n-sorted. */
  private def loadArtifact(path: java.nio.file.Path)
      : Map[String, Vector[FrontierRow]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readString(path))
    node.get("rows").elements().asScala.map { r =>
      FrontierRow(r.get("form").asText(), r.get("n").asLong(),
        r.get("recall_at_3").asDouble(), r.get("wall_sec").asDouble(),
        r.get("shuffle_mb").asDouble())
    }.toVector.groupBy(_.form).view.mapValues(_.sortBy(_.n)).toMap
  }

  private final case class Point(recall: Double, wall: Double,
      shuffleMb: Double, clampedLow: Boolean, clampedHigh: Boolean) {
    def clamped: Boolean = clampedLow || clampedHigh
  }

  /** Interpolate a form's measured curve at `n` (linear in log n);
    * clamps outside the measured range and says which end. */
  private def at(rows: Vector[FrontierRow], n: Long): Point = {
    require(rows.nonEmpty, "no measured rows for form")
    if (n <= rows.head.n)
      Point(rows.head.recall, rows.head.wall, rows.head.shuffleMb,
        n < rows.head.n, clampedHigh = false)
    else if (n >= rows.last.n)
      Point(rows.last.recall, rows.last.wall, rows.last.shuffleMb,
        clampedLow = false, n > rows.last.n)
    else {
      val hi = rows.indexWhere(_.n >= n)
      val (a, b) = (rows(hi - 1), rows(hi))
      val t = (math.log(n.toDouble) - math.log(a.n.toDouble)) /
        (math.log(b.n.toDouble) - math.log(a.n.toDouble))
      def lerp(x: Double, y: Double) = x + (y - x) * t
      Point(lerp(a.recall, b.recall), lerp(a.wall, b.wall),
        lerp(a.shuffleMb, b.shuffleMb), clampedLow = false,
        clampedHigh = false)
    }
  }

  /** The concentration bound above which the CLUSTERED frontier is the
    * right evidence — the same measured calibration point as the
    * auto-probe dial's (`Similarity.ConcClustered`). */
  private val ClusteredBound = 0.73

  def recommendIndexFamily(stats: CorpusStats, workload: AnnWorkload,
      frontierDir: String = "frontier"): IndexRecommendation = {
    val isoPath = java.nio.file.Paths.get(frontierDir,
      "frontier_r12_isotropic.json")
    val cluPath = java.nio.file.Paths.get(frontierDir,
      "frontier_r13_clustered.json")
    val cluPath100 = java.nio.file.Paths.get(frontierDir,
      "frontier_r14_clustered_x100.json")
    val fltPath = java.nio.file.Paths.get(frontierDir,
      "frontier_r13_filtered.json")
    // the r15 filtered 100× sweep (the mode where LSH's niche lives was
    // clamp-only past 10× until measured) — merged into the filtered
    // table when present, the same base+extension pattern as the
    // clustered 100× point
    val fltPath100 = java.nio.file.Paths.get(frontierDir,
      "frontier_r15_filtered_x100.json")
    val iso = loadArtifact(isoPath)
    val n = stats.nVectors

    def cite(path: java.nio.file.Path, form: String, pt: Point): String = {
      val clamp =
        if (pt.clamped) " [beyond the measured range — clamped]" else ""
      f"${path.getFileName}: $form at n=$n → recall@3=${pt.recall}%.3f, " +
        f"warm ${pt.wall}%.2f s, ${pt.shuffleMb}%.1f MB shuffle$clamp"
    }

    // the clustered-corpus evidence: when the corpus measurably
    // clusters, the IVF-PQ artifact's auto dial keeps the probe floor
    // and the measured curve is the clustered one (recall flat ≥ 0.99)
    val clustered = stats.concentration.exists(_ >= ClusteredBound) &&
      java.nio.file.Files.exists(cluPath)
    def ivfPoint: (java.nio.file.Path, String, Point) =
      if (clustered) {
        // the r14 100× sweep extends the clustered table to n=200 000
        // (and measured WHY extrapolating would be wrong: more probes
        // REDUCE recall at that density — preselect crowding); the
        // citation names whichever artifact's measured range actually
        // covers n, and the clamp now starts beyond the 100× point
        val base = loadArtifact(cluPath)("clu_indexed_query_auto")
        val ext =
          if (!java.nio.file.Files.exists(cluPath100)) Vector.empty
          else loadArtifact(cluPath100)
            .getOrElse("clu_indexed_query_auto", Vector.empty)
        val rows = (base ++ ext).sortBy(_.n)
        val p = if (ext.nonEmpty && n > base.last.n) cluPath100 else cluPath
        (p, "clu_indexed_query_auto", at(rows, n))
      } else (isoPath, "sim_ann_ivfpq_index_query",
        at(iso("sim_ann_ivfpq_index_query"), n))

    def recommendIvf(reason: String): IndexRecommendation = {
      val (p, form, pt) = ivfPoint
      IndexRecommendation("ivf-pq-index", pt.recall, pt.wall, pt.shuffleMb,
        s"$reason Expected operating point — ${cite(p, form, pt)}.")
    }

    if (workload.continuousIngest || workload.erasureDeadlines)
      recommendIvf("The IVF-PQ artifact is the only family with the " +
        "append/erase/compact lifecycle: LSH postings are a bucketed " +
        "table (bucket id lives in the file NAME), so the rename-based " +
        "exactly-once append does not transfer — the LSH artifact is " +
        "rebuild-per-corpus-version.")
    else workload.filterSelectivity match {
      case Some(sel) if sel < 0.5 =>
        // both families run selectivity-scaled compensation dials; the
        // measured filtered points (14% slice — the frontier's filtered
        // workload shape) decide.
        //
        // CORPUS SHAPE FIRST (round 16): the round-13/15 readings say
        // shape is the dominant lever at high density, and until now a
        // clustered corpus's filtered call interpolated from ISOTROPIC
        // filtered points. When the corpus measurably clusters and the
        // clustered×filtered quadrant has been measured
        // (frontier_r16_clustered_filtered.json, `clu_*` forms from the
        // same Frontier variants on the mixture-of-Gaussians corpus),
        // that table decides under the same tie rules.
        val cfPath = java.nio.file.Paths.get(frontierDir,
          "frontier_r16_clustered_filtered.json")
        if (clustered && java.nio.file.Files.exists(cfPath)) {
          val cf = loadArtifact(cfPath)
          val ivf = at(cf("clu_search_filtered_14pct"), n)
          val lsh = at(cf("clu_lsh_filtered_14pct"), n)
          if (lsh.clampedHigh || ivf.clampedHigh) {
            val lshMax = cf("clu_lsh_filtered_14pct").last.n
            IndexRecommendation("ivf-pq-index", ivf.recall, ivf.wall,
              ivf.shuffleMb,
              "Clustered corpus, filtered workload beyond the " +
                "clustered×filtered table's measured range: route to " +
                "the scale-qualified family (the clustered IVF-PQ " +
                "frontier runs to 100×; clustered LSH filtered " +
                s"economics are unmeasured past n=$lshMax) — " +
                s"${cite(cfPath, "clu_search_filtered_14pct", ivf)}; " +
                s"${cite(cfPath, "clu_lsh_filtered_14pct", lsh)}.")
          } else if (lsh.recall >= ivf.recall - 0.05 && lsh.wall < ivf.wall)
            IndexRecommendation("lsh-index", lsh.recall, lsh.wall,
              lsh.shuffleMb,
              "Clustered corpus: the measured clustered×filtered " +
                "quadrant under both compensation dials — " +
                s"${cite(cfPath, "clu_lsh_filtered_14pct", lsh)} vs " +
                s"${cite(cfPath, "clu_search_filtered_14pct", ivf)}.")
          else
            IndexRecommendation("ivf-pq-index", ivf.recall, ivf.wall,
              ivf.shuffleMb,
              "Clustered corpus: the measured clustered×filtered " +
                "quadrant under both compensation dials — " +
                s"${cite(cfPath, "clu_search_filtered_14pct", ivf)} vs " +
                s"${cite(cfPath, "clu_lsh_filtered_14pct", lsh)}.")
        }
        else if (java.nio.file.Files.exists(fltPath)) {
          val fltBase = loadArtifact(fltPath)
          val fltExt =
            if (!java.nio.file.Files.exists(fltPath100))
              Map.empty[String, Vector[FrontierRow]]
            else loadArtifact(fltPath100)
          val flt = (fltBase.keySet ++ fltExt.keySet).map { f =>
            f -> (fltBase.getOrElse(f, Vector.empty) ++
              fltExt.getOrElse(f, Vector.empty)).sortBy(_.n)
          }.toMap
          // the citation names whichever artifact's measured range
          // actually covers n (same rule as the clustered extension)
          def fltSrc(form: String): java.nio.file.Path =
            if (fltExt.contains(form) &&
                fltBase.get(form).forall(b => b.isEmpty || n > b.last.n))
              fltPath100
            else fltPath
          val ivf = at(flt("search_filtered_14pct"), n)
          val lsh = at(flt("lsh_filtered_14pct"), n)
          // beyond the filtered table's measured range, the verdict
          // falls to the family whose SCALE path is qualified (the
          // IVF-PQ frontier runs to 30×; LSH's filtered economics are
          // unmeasured past 10×) — a clamped row must not decide
          if (lsh.clampedHigh || ivf.clampedHigh) {
            // the measured-range bounds come off the LOADED rows, and
            // the text names whichever family actually clamped — the
            // citation is the advisor's value proposition, it must not
            // misstate its own evidence (a hardcoded "measured only to
            // n=20000" survived one frontier extension to n=60000)
            val ivfMax = flt("search_filtered_14pct").last.n
            val lshMax = flt("lsh_filtered_14pct").last.n
            val clampedNames = Seq(
              if (ivf.clampedHigh) Some(s"IVF-PQ (measured to n=$ivfMax)")
              else None,
              if (lsh.clampedHigh) Some(s"LSH (measured to n=$lshMax)")
              else None).flatten.mkString(" and ")
            IndexRecommendation("ivf-pq-index", ivf.recall, ivf.wall,
              ivf.shuffleMb,
              "Filtered workload beyond the filtered table's measured " +
                s"range for $clampedNames: route to the scale-qualified " +
                "family (the unfiltered IVF-PQ frontier runs to 30×; " +
                s"LSH's filtered economics are unmeasured past " +
                s"n=$lshMax) — " +
                s"${cite(fltSrc("search_filtered_14pct"), "search_filtered_14pct", ivf)}; " +
                s"${cite(fltSrc("lsh_filtered_14pct"), "lsh_filtered_14pct", lsh)}.")
          }
          else if (lsh.recall >= ivf.recall - 0.05 && lsh.wall < ivf.wall)
            IndexRecommendation("lsh-index", lsh.recall, lsh.wall,
              lsh.shuffleMb,
              "Measured filtered points under both compensation dials — " +
                s"${cite(fltSrc("lsh_filtered_14pct"), "lsh_filtered_14pct", lsh)} vs " +
                s"${cite(fltSrc("search_filtered_14pct"), "search_filtered_14pct", ivf)}.")
          else
            IndexRecommendation("ivf-pq-index", ivf.recall, ivf.wall,
              ivf.shuffleMb,
              "Measured filtered points under both compensation dials — " +
                s"${cite(fltSrc("search_filtered_14pct"), "search_filtered_14pct", ivf)} vs " +
                s"${cite(fltSrc("lsh_filtered_14pct"), "lsh_filtered_14pct", lsh)}.")
        } else {
          val pt = at(iso("search_filtered_14pct"), n)
          IndexRecommendation("ivf-pq-index", pt.recall, pt.wall,
            pt.shuffleMb,
            "Filtered workload: the IVF-PQ AutoProbes compensation is " +
              "the measured filtered path — " +
              s"${cite(isoPath, "search_filtered_14pct", pt)}.")
        }
      case _ =>
        val (ivfP, ivfForm, ivf) = ivfPoint
        val lsh = at(iso("sim_ann_lsh_index_query"), n)
        if (workload.latencyPinned && !clustered && !lsh.clampedHigh &&
            lsh.wall < ivf.wall && lsh.recall >= ivf.recall - 0.05)
          IndexRecommendation("lsh-index", lsh.recall, lsh.wall,
            lsh.shuffleMb,
            "Latency-pinned at a scale where the measured warm LSH " +
              "query is faster at matched recall — " +
              s"${cite(isoPath, "sim_ann_lsh_index_query", lsh)} vs " +
              s"${cite(ivfP, ivfForm, ivf)}.")
        else
          recommendIvf("The measured warm-query frontier: " +
            f"LSH moves ${lsh.shuffleMb}%.1f MB vs ${ivf.shuffleMb}%.1f " +
            f"MB at this scale (recall ${lsh.recall}%.3f vs " +
            f"${ivf.recall}%.3f, wall ${lsh.wall}%.2f vs " +
            f"${ivf.wall}%.2f s) — " +
            s"${cite(isoPath, "sim_ann_lsh_index_query", lsh)}.")
    }
  }

  /** What a LIVE index's own measurements say it should do next:
    * `"stay"`, `"retrain"` (same family, fresh quantizer — the
    * [[Similarity.retrainIfDrifted]] rule), or `"refamily"` (the
    * measured frontier routes this corpus/workload to a different
    * family). Every field the decision reads is measured, not
    * asserted. */
  final case class LiveIndexAdvice(
      action: String,
      measuredConcentration: Option[Double],
      lastDrift: Option[Double],
      recommendation: IndexRecommendation,
      citation: String)

  /** [[recommendIndexFamily]] with the caller's asserted corpus-shape
    * flags replaced by what the index MEASURED about itself (round 15 —
    * the lifecycle records concentration per index; this routes it):
    *
    *   - n and concentration come from the artifact's `_stats` rows —
    *     the build stamp plus every COMMITTED append's assignment-
    *     quality row, vector-weighted
    *     ([[Similarity.indexConcentration]], the same number the
    *     auto-probe dial reads), so months of appends steer the family
    *     call exactly as they steer the probe budget;
    *   - drift comes from the newest committed append row of
    *     [[Similarity.indexDriftReport]].
    *
    * Decision order: a frontier verdict for a DIFFERENT family wins
    * (re-family is strictly stronger than retraining inside the wrong
    * family); otherwise drift below `-driftRetrainThreshold` means the
    * frozen quantizer no longer fits the arriving data → retrain;
    * otherwise stay. The citation carries the measured concentration,
    * its provenance (which stats rows), the drift, and the frontier
    * row that priced the expected operating point — `IndexAdvisorSpec`
    * pins a drifted artifact getting the scale-qualified answer with a
    * concentration-sourced citation.
    *
    * FAMILY-AWARE (round 17): the live family is detected from the
    * artifact ([[Similarity.indexFamilyOf]]), and `refamily` means "the
    * frontier routes to a family OTHER than the live one" — in either
    * direction. A deployed LSH version advises from its own stamped
    * `_stats/build.parquet` (n_vectors + the concentration the
    * re-family verdict carried forward — see
    * `Similarity.writeLshArtifactMeta`), so an alias that re-familied
    * to LSH has a measured way BACK to IVF-PQ when the corpus or
    * workload shifts. The drift→retrain rule remains IVF-PQ-only by
    * construction: only that family commits appends (LSH is
    * rebuild-per-corpus-version), so an LSH artifact has no drift to
    * read and its in-family verdict is always `stay`. */
  def adviseLiveIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, workload: AnnWorkload,
      driftRetrainThreshold: Double = 0.05,
      frontierDir: String = "frontier"): LiveIndexAdvice = {
    require(driftRetrainThreshold > 0,
      "driftRetrainThreshold must be a positive drift magnitude")
    val liveFamily = Similarity.indexFamilyOf(spark, indexDir)
    val n = Similarity.statsIndexSize(spark, indexDir)
    require(n > 0, s"$indexDir carries no _stats rows — a foreign or " +
      "pre-stats artifact has nothing measured to advise from; use " +
      "recommendIndexFamily with caller-supplied CorpusStats instead")
    val conc = Similarity.indexConcentration(spark, indexDir)
    import org.apache.spark.sql.functions.col
    val drift = Similarity.indexDriftReport(spark, indexDir)
      .orderBy(col("seq").desc).limit(1)
      .select(col("drift")).collect().headOption.map(_.getDouble(0))
    val rec = recommendIndexFamily(CorpusStats(n, conc), workload,
      frontierDir)
    val concCite = conc match {
      case Some(c) =>
        f"measured concentration $c%.3f (vector-weighted mean " +
          "assignment cosine over _stats/build.parquet + every " +
          "committed append's stats row)"
      case None =>
        "no stamped concentration (pre-stats build) — the conservative " +
          "fraction-held dial rule applies"
    }
    val driftCite = drift match {
      case Some(d) => f"newest committed append drift $d%.4f"
      case None => "no committed appends yet (day-0 or freshly rotated)"
    }
    if (rec.family != liveFamily)
      LiveIndexAdvice("refamily", conc, drift, rec,
        s"The live artifact is the $liveFamily family, but at its " +
          s"measured operating point (n=$n, $concCite) the frontier " +
          s"routes this workload to ${rec.family} — ${rec.citation}")
    else if (liveFamily == "ivf-pq-index" &&
        drift.exists(_ < -driftRetrainThreshold))
      LiveIndexAdvice("retrain", conc, drift, rec,
        f"$driftCite%s fell below -$driftRetrainThreshold%.2f: the " +
          s"frozen quantizer no longer fits the arriving data (the " +
          s"retrainIfDrifted rule) — retrain within ${rec.family} at " +
          s"n=$n, $concCite; ${rec.citation}")
    else
      LiveIndexAdvice("stay", conc, drift, rec,
        s"$driftCite within tolerance and the frontier keeps " +
          s"${rec.family} at n=$n ($concCite) — ${rec.citation}")
  }
}
