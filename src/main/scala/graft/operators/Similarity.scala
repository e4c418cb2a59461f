package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over the `embeddings` fixture (`Array[Float]`, 64-dim):
  * brute-force cosine top-k (the correctness baseline), random-hyperplane
  * LSH bucketed ANN (the scale path), and embedding-cosine near-dup pairs.
  *
  * Determinism/oracle design: all dot products are left folds in index
  * order over doubles (`aggregate(zip_with(...))` in Spark ≡ `list_reduce`
  * of a list comprehension in DuckDB), floats cast to double before any
  * arithmetic, cosine written as `dot / (sqrt(na) * sqrt(nb))` in exactly
  * that shape on both sides — results are bit-identical, so even the
  * floating-point scores hash-match.
  *
  * LSH hyperplane weights come from a C-standard LCG over integer
  * arithmetic (`(1103515245·k + 12345) mod 2³¹`), not a PRNG object, so
  * both engines derive identical planes.
  *
  * Scale story: brute-force top-k and the cartesian near-dup are O(n²·d)
  * and exist to validate the LSH paths. The LSH variants join on a bucket
  * id whose width grows with the corpus ([[planesFor]]: #buckets ≈ n/50),
  * so within-bucket work stays ~linear in n; near-dup adds radius-1
  * multi-probe for recall. The bucket join is the IVF shuffle shape (hash
  * partition on bucket, AQE handles occupancy skew).
  */
object Similarity {

  private val dvec: Column =
    transform(col("embedding"), x => x.cast("double"))

  /** Native one-pass dot product ([[graft.functions.DotProduct]]) — the
    * identical left fold in index order as the HOF form
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` and the DuckDB oracles'
    * `list_reduce` (equivalence spec-pinned in `VectorExpressionsSpec`),
    * so swapping it in changes no hashes. The HOF form runs interpreted —
    * per (vector, plane) in the LSH bucket assignment, the hot loop at
    * scale. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  /** Composable-HOF cosine — kept as the reference form the native
    * expression is spec-checked against (`VectorExpressionsSpec`). */
  private[graft] def cosineHof(av: Column, bv: Column): Column =
    dot(av, bv) / (sqrt(dot(av, av)) * sqrt(dot(bv, bv)))

  /** Hot-path cosine: the fused native Catalyst expression
    * ([[graft.functions.CosineSimilarity]]) — one pass, no intermediate
    * arrays, same left-fold accumulation order as [[cosineHof]] and the
    * DuckDB oracles, so results are bit-identical. */
  private[graft] def cosine(av: Column, bv: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(av, bv)

  /** DuckDB fragments mirroring the Spark folds (1-based indices). */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce([$a[i] * $b[i] for i in range(1, len($a) + 1)], (x, y) -> x + y)"

  private def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  private val vCte =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      |      FROM embeddings)""".stripMargin

  // --- brute-force cosine top-k --------------------------------------------

  private val TopK = 5

  /** Exact cosine top-k neighbors per vector — O(n²·d) baseline. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    // repartition the streamed side so the n²·d work parallelizes (the
    // fixture is one parquet split → one task otherwise; explicit count
    // because AQE's size-based coalescing would merge the small-byte /
    // quadratic-cost partitions back — same note as Dedup.jaccardBrute)
    val a = v.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("vec_id"), col("ev").as("a_ev"))
    val b = v.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (a.join(b, col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopK)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"), col("cosine")))
  }

  val cosineTopKOracle: String =
    s"""WITH $vCte,
       |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= $TopK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // --- embedding-cosine near-dup pairs -------------------------------------

  /** embeddings ∪ perturbed copies (first 8 dims +0.1) of every 20th
    * vector at vec_id+100000 — cosine(orig, copy) ≈ 0.99 on unit-scale
    * random vectors, every other pair < 0.55. */
  private def withNearDupVecs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val base = e.select(col("vec_id"), dvec.as("ev"))
    val pert = transform(dvec, (x, i) => when(i < 8, x + lit(0.1)).otherwise(x))
    base.unionAll(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), pert.as("ev")))
  }

  private val nearDupVecsCte: String =
    s"""v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |       FROM embeddings),
       |v AS (SELECT vec_id, ev FROM v0
       |      UNION ALL
       |      SELECT vec_id + 100000 AS vec_id,
       |             [CASE WHEN i <= 8 THEN ev[i] + 0.1 ELSE ev[i] END
       |              for i in range(1, len(ev) + 1)] AS ev
       |      FROM v0 WHERE vec_id % 20 = 0)""".stripMargin

  /** Embedding-cosine near-duplicate pairs (cosine ≥ 0.9). */
  def cosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    val v = withNearDupVecs(spark, dir)
    // streamed-side repartition for cartesian parallelism (see cosineTopK)
    val a = v.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("a_id"), col("ev").as("a_ev"))
    val b = v.select(col("vec_id").as("b_id"), col("ev").as("b_ev"))
    (a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .filter(col("cosine") >= 0.9))
  }

  val cosineNearDupOracle: String =
    s"""WITH $nearDupVecsCte
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |       ${sqlCos("a.ev", "b.ev")} AS cosine
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE ${sqlCos("a.ev", "b.ev")} >= 0.9
       |ORDER BY 1, 2, 3""".stripMargin

  // --- random-hyperplane LSH ANN -------------------------------------------

  private val Dim = 64
  private val AnnK = 3
  /** Target vectors per bucket: #buckets scales as n/50, so within-bucket
    * join work stays ~linear in n instead of O(n²/constant). */
  private val TargetOccupancy = 50L
  private val MaxPlanes = 20

  /** Per-bucket postings cap for [[annLshCappedProd]]: the design-target
    * occupancy promoted from an average to a worst-case bound. Binds on
    * every fixture (max occupancy 60–148 vs 50 — the synthetic
    * embeddings are NOT uniform over buckets), so the capped rows
    * genuinely diverge from the uncapped oracle. */
  private[operators] val LshBucketCap = TargetOccupancy

  /** Smallest p ≥ 4 with n ≤ 50·2^p — pure integer logic, so the DuckDB
    * oracle derives the identical count from `count(*)` (a float log2
    * could round differently across engines at powers of two). At sf0.01
    * (2.5k vectors) this is 6 planes / 64 buckets; at sf0.1, 9 planes /
    * 512 buckets; at 100 TB it keeps growing with log₂(n) while the
    * per-bucket work stays bounded. */
  private[operators] def planesFor(n: Long): Int = {
    var p = 4
    while (n > TargetOccupancy * (1L << p) && p < MaxPlanes) p += 1
    p
  }

  /** DuckDB mirror of [[planesFor]]. */
  private def planesSql(countFrom: String): String =
    s"""np AS (SELECT MIN(p) AS mp FROM range(4, ${MaxPlanes + 1}) t(p)
       |       WHERE (SELECT count(*) FROM $countFrom) <= $TargetOccupancy * (1 << p)
       |          OR p = $MaxPlanes)""".stripMargin

  /** Deterministic hyperplane weights from the C-standard LCG — pure
    * integer arithmetic both engines reproduce exactly. */
  private def lcgWeight(k: Long): Double =
    ((1103515245L * k + 12345L) % 2147483648L).toDouble / 2147483648.0 - 0.5

  private def planeWeights(p: Int): Seq[Double] =
    (0 until Dim).map(i => lcgWeight(p.toLong * Dim + i))

  private def bucketExpr(v: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { p =>
      when(dot(v, typedlit(planeWeights(p))) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Preselect width for the packed-PQ approximate ranking inside the
    * LSH candidate join — wider than [[PqPreK]] because the LSH probe
    * set yields more (and more diverse) candidates per query than IVF's
    * nprobe cells, so the approximate ranking has more true neighbors
    * to preserve. Still a fixed constant: candidates per query grow as
    * probes(≈ p²/2)·occupancy while the rerank stays LshPreK·n, so the
    * prune ratio IMPROVES with corpus size. */
  private val LshPreK = 48

  /** ANN top-k via random-hyperplane LSH with radius-2 multi-probe: each
    * query vector ranks candidates from its own sign-pattern bucket plus
    * every bucket within hamming distance 2 of it. The plane count
    * (= log₂ #buckets) grows with the corpus via [[planesFor]] (one cheap
    * driver-side `count()` against parquet metadata), so the probed
    * fraction (1 + p + p(p−1)/2) / 2^p shrinks exponentially as n grows
    * while per-probe occupancy stays ~constant. Single-probe recall@3 on
    * the random-vector fixtures is only ~0.17 (near-orthogonal random
    * vectors are hyperplane LSH's worst case — no cluster structure);
    * radius-2 probing lifts it to ~0.81, pinned with a 0.75 floor in
    * `SimilaritySpec`. Candidate generation carries only (vec_id, probe)
    * longs; each neighbor is found at most once because its bucket matches
    * at most one of the distinct probe values.
    *
    * Candidate RANKING is PQ-pruned (the round-8 stress run measured the
    * full-precision variant shipping 512 B embeddings per candidate row —
    * ~100+ GB of shuffle at 30× fixture scale, which exhausted local
    * scratch): the candidate join ships each neighbor's 16 four-bit PQ
    * codes packed into ONE long (8 bytes), ranks by the ASYMMETRIC
    * distance (full-precision query against the neighbor's PQ-decoded
    * approximation, decoded scan-side against the ≤1 KiB broadcast
    * codebook literal — built-in `element_at`/`flatten`, fully inside
    * whole-stage codegen), and only the top [[LshPreK]] survivors per
    * query rerank at full precision — the same trick that lets
    * IVF-PQ ([[annIvfPqProd]]) run at billion-vector scale. Codebook
    * training is the fixed-buffer [[pqCodebookProd]] (no per-cell
    * collect_list) and code assignment is the scan-side native packed
    * assignment ([[graft.functions.PqAssign]]'s `packed` field). The
    * DuckDB oracle replays the identical algorithm (same planes, probes,
    * codebook, folds), so this hash-matches even though ANN-vs-exact
    * recall is approximate by construction. */
  def annLshProd(spark: SparkSession, dir: String): DataFrame =
    annLshProdFrom(spark, dir, capped = false)

  /** BUCKET-CAPPED LSH ANN: identical to [[annLshProd]] except no bucket
    * contributes more than [[LshBucketCap]] = [[TargetOccupancy]]
    * postings to the candidate join — the skew fuse the 30× StressScale
    * run showed the uncapped family needs (candidate volume on hot
    * buckets, not postings locality, is LSH's scale wall: 50.9× wall at
    * 30× rows on unclustered data). Postings within a bucket are kept by
    * an LCG hash of vec_id (deterministic uniform sample, replayed
    * bit-identically by the DuckDB oracle), so candidates per query are
    * ≤ probes · cap REGARDLESS of skew, turning the average-occupancy
    * design target into a worst-case bound. Every vector still QUERIES —
    * the cap only thins hot buckets' candidate lists, trading bounded
    * recall on over-dense regions (measured in `SimilaritySpec`) for a
    * hard candidate-volume ceiling. */
  def annLshCappedProd(spark: SparkSession, dir: String): DataFrame =
    annLshProdFrom(spark, dir, capped = true)

  private def annLshProdFrom(spark: SparkSession, dir: String,
      capped: Boolean): DataFrame = {
    val cb = pqCodebookProd(spark, dir)
    val pq = graft.functions.VectorFunctions
      .pq_assign(col("embedding"), cb, PqS)
    val packed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), pq.getField("packed").as("b_code"))
    annLshFrom(spark, dir, packed, cb, capped)
  }

  /** Shared LSH-ANN dataflow: bucket/probe candidate generation (ids
    * only) → 8-byte packed-code join → asymmetric preselect
    * ([[graft.functions.PqAsymmetricCosine]] — full-precision query
    * against the code word, straight off the codebook reference object,
    * no per-row decode array) → top-[[LshPreK]] full-precision rerank.
    * `packed` maps vec_id → b_code (the 4-bit-per-subspace code
    * word). */
  private def annLshFrom(spark: SparkSession, dir: String,
      packed: DataFrame, cbArr: Array[Array[Array[Double]]],
      capped: Boolean = false): DataFrame = {
    val numPlanes = planesFor(Tables.embeddings(spark, dir).count())
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    // candidates are generated IDS-ONLY and the 8-byte codes re-attach
    // via one broadcast join on the n-scale `packed` frame AFTER the
    // candidate join (restored in round 17 after a measured regression:
    // riding `b_code` on the postings projection inflated that side's
    // size estimate past the probes side's, flipping the candidate
    // join's build side — the planner broadcast the row-EXPLODING
    // probes subtree and streamed the postings through their
    // AQE-coalesced post-window exchange, so the whole candidate ×
    // preselect computation ran on ONE post-shuffle partition:
    // sim_ann_lsh_capped 3.0 → 24.0 s min-merged at 10×. Ids-only
    // candidate sides keep the estimates tied, the postings stay the
    // build side, and the expensive candidate stream stays at scan
    // parallelism).
    val buckets = v.withColumn("bucket", bucketExpr(col("ev"), numPlanes))
      .select(col("vec_id"), col("bucket"))
    val probes = buckets.select(col("vec_id"), col("bucket"), explode(array(
      probeMasks(numPlanes).map(m => col("bucket").bitwiseXOR(lit(m))): _*))
      .as("probe"))
    val postingsAll =
      buckets.select(col("vec_id").as("neighbor_id"), col("bucket").as("nb"))
    // the capped neighbor side: ≤ LshBucketCap postings per bucket, kept
    // by LCG(vec_id) — a deterministic uniform sample both engines rank
    // identically (the odd multiplier is injective mod 2^31, so no ties;
    // vec_id breaks them anyway). The window's bucket shuffle lands on
    // the SAME key the candidate join reads, so AQE/Catalyst reuse the
    // partitioning — the cap costs no extra exchange on the big side.
    val postings = if (!capped) postingsAll else {
      val wB = Window.partitionBy(col("nb")).orderBy(
        (lit(1103515245L) * col("neighbor_id") + lit(12345L)) % lit(2147483648L),
        col("neighbor_id"))
      postingsAll.withColumn("brnk", row_number().over(wB))
        .filter(col("brnk") <= LshBucketCap)
        .drop("brnk")
    }
    // THE big join — ids only: postings carry just (neighbor_id, nb),
    // so the exploding probe×posting join ships ~16 B rows and the
    // neighbor's 8-byte packed code attaches AFTERWARDS via the
    // broadcast-sized candC join on neighbor_id (round 17 measured the
    // fused codes-on-postings variant flipping this join's build side
    // to the exploding probes at 10× — 24 s single-threaded — and
    // reverted it). The later join by vec_id attaches only the QUERY
    // vector (once per candidate, but the window input drops it before
    // any further exchange: the select keeps (vec_id, bucket,
    // neighbor_id, acos) ≈ 32 B rows, and the window reuses the join's
    // vec_id partitioning — no extra shuffle)
    val cand = probes.as("x").join(postings,
        col("probe") === col("nb") && col("x.vec_id") =!= col("neighbor_id"))
      .select(col("x.vec_id").as("vec_id"), col("x.bucket").as("bucket"),
        col("neighbor_id"))
    // every candidate row picks up its neighbor's 8-byte code word via
    // the broadcast-sized packed frame, not a 512 B embedding
    val candC = cand.join(
      packed.select(col("vec_id").as("neighbor_id"), col("b_code")),
      "neighbor_id")
    lshRankTail(v, candC, cbArr)
  }

  /** The LSH family's shared ranking tail over coded candidates
    * (vec_id, bucket, neighbor_id, b_code): asymmetric preselect →
    * top-[[LshPreK]] full-precision rerank → top-[[AnnK]]. Extracted so
    * the persisted-index query runs the IDENTICAL ops (its oracle is
    * [[annLshOracle]] verbatim). */
  private def lshRankTail(v: DataFrame, candC: DataFrame,
      cbArr: Array[Array[Array[Double]]]): DataFrame = {
    val wPre = Window.partitionBy(col("vec_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val pre = candC
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .select(col("vec_id"), col("bucket"), col("neighbor_id"),
        graft.functions.VectorFunctions.pq_asymmetric_cosine(
          col("a_ev"), col("b_code"), cbArr, PqS).as("acos"))
      .withColumn("prernk", row_number().over(wPre))
      .filter(col("prernk") <= LshPreK)
      .select(col("vec_id"), col("bucket"), col("neighbor_id"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (pre
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev")),
        "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"), col("bucket"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("vec_id"), col("neighbor_id"), col("bucket"),
        col("rnk"), col("cosine")))
  }

  // lazy: interpolates pqCtes/LshPreK declared later in the object
  lazy val annLshOracle: String = lshOracle(capped = false)

  /** [[annLshCappedProd]]'s replay: [[annLshOracle]] with the candidate
    * join's neighbor side thinned to ≤ [[LshBucketCap]] rows per bucket
    * by the identical LCG ranking. */
  lazy val annLshCappedOracle: String = lshOracle(capped = true)

  /** [[annLshIndexDeleteProd]]'s replay: [[annLshOracle]] with the registry
    * erasure batch (vec_id % 10 = 5) applied where the engine applies
    * it — at the candidate join, on BOTH sides (deleted vectors neither
    * query nor appear as neighbors), before the preselect/rerank
    * windows so surviving ranks stay dense. Mirrors
    * [[annIvfPqIndexDeleteOracle]]. */
  lazy val annLshIndexDeleteOracle: String =
    lshOracle(capped = false, erased = true)

  private def lshOracle(capped: Boolean, erased: Boolean = false): String = {
    val erasedPred = if (!erased) ""
      else "\n           AND a.vec_id % 10 <> 5 AND b.vec_id % 10 <> 5"
    val capCtes = if (!capped) "" else
      s"""vbr AS (SELECT vec_id, bucket,
         |               row_number() OVER (PARTITION BY bucket
         |                 ORDER BY (1103515245 * vec_id + 12345) % 2147483648,
         |                          vec_id) AS brnk
         |        FROM vb),
         |vbc AS (SELECT vec_id, bucket FROM vbr WHERE brnk <= $LshBucketCap),
         |""".stripMargin
    val neighborCte = if (capped) "vbc" else "vb"
    s"""WITH $vCte,
       |${planesSql("embeddings")},
       |pw AS (SELECT p,
       |          [CAST((1103515245 * (p * $Dim + i - 1) + 12345) % 2147483648 AS DOUBLE)
       |             / 2147483648.0 - 0.5
       |           for i in range(1, $Dim + 1)] AS w
       |       FROM range(0, $MaxPlanes) t(p)
       |       WHERE p < (SELECT mp FROM np)),
       |vb AS (SELECT v.vec_id,
       |              CAST(sum(CASE WHEN ${sqlDot("v.ev", "pw.w")} > 0
       |                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |       FROM v CROSS JOIN pw GROUP BY v.vec_id),
       |vv AS (SELECT v.vec_id, v.ev, vb.bucket
       |       FROM v JOIN vb ON v.vec_id = vb.vec_id),
       |mk AS (SELECT DISTINCT
       |              xor(CASE WHEN i = -1 THEN 0 ELSE 1 << i END,
       |                  CASE WHEN j = -1 THEN 0 ELSE 1 << j END) AS mask
       |       FROM range(-1, $MaxPlanes) t1(i), range(-1, $MaxPlanes) t2(j)
       |       WHERE i <= j AND i < (SELECT mp FROM np)
       |         AND j < (SELECT mp FROM np)),
       |pr AS (SELECT vec_id, bucket, xor(bucket, CAST(mask AS BIGINT)) AS probe
       |       FROM vb CROSS JOIN mk),
       |${capCtes}cand AS (SELECT a.vec_id, a.bucket, b.vec_id AS neighbor_id
       |         FROM pr a JOIN $neighborCte b
       |           ON a.probe = b.bucket AND a.vec_id <> b.vec_id$erasedPred),
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |aq AS (SELECT c.vec_id, c.bucket, c.neighbor_id,
       |              ${sqlCos("a.ev", "d.qv")} AS acos
       |       FROM cand c
       |       JOIN vv a ON c.vec_id = a.vec_id
       |       JOIN dec d ON c.neighbor_id = d.vec_id),
       |pre AS (SELECT vec_id, bucket, neighbor_id FROM (
       |          SELECT vec_id, bucket, neighbor_id,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY acos DESC, neighbor_id)
       |                   AS prernk
       |          FROM aq)
       |        WHERE prernk <= $LshPreK),
       |p AS (SELECT c.vec_id, c.neighbor_id, c.bucket,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM pre c
       |      JOIN vv a ON c.vec_id = a.vec_id
       |      JOIN vv b ON c.neighbor_id = b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, bucket, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, bucket, rnk, cosine FROM r WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4, 5""".stripMargin
  }

  // --- IVF ANN (coarse-quantizer + nprobe, the inverted-file scale path) ---

  private val IvfProbes = 8

  /** Sentinel for the persisted-index query/search forms: derive nprobe
    * from the index's OWN cell count instead of a constant. The round-11
    * frontier measured why a constant is the wrong default at scale:
    * with cells = ⌈√n⌉ growing, a fixed nprobe probes a SHRINKING
    * corpus fraction, so recall@3 fell 0.515 → 0.300 from 1× to 10× on
    * the isotropic worst case, while each nprobe doubling bought ~0.1
    * recall back at flat wire bytes (SCALING.md round 11). */
  val AutoProbes: Int = -1

  /** The probe FRACTION the auto default holds as the corpus grows:
    * the oracle-gated configuration's own operating point (nprobe 8 of
    * the 45 cells a 2 000-vector corpus trains — the calibration scale
    * where the frontier sweep measured the recall-per-doubling rate).
    * Holding the fraction keeps recall ≈ flat on unclustered data (the
    * worst case: candidates per query stay a constant corpus share,
    * priced at 8 B PQ codes); clustered real corpora need less, and the
    * explicit `nprobe` parameter remains the override. */
  private val IvfProbeFraction = 8.0 / 45.0

  /** nprobe under the auto rule: hold [[IvfProbeFraction]] of `cells`,
    * floored at the fixture-scale [[IvfProbes]] (small indexes keep the
    * oracle-gated setting — the derivation resolves to exactly 8 at
    * both the sf0.01 correctness and sf0.1 bench scales) and capped at
    * `cells`. Explicit nprobe values pass through untouched. This is
    * the WORST-CASE (isotropic) arm; [[autoNprobeFor]] weights it by
    * the index's measured cluster concentration when the artifact's
    * stats are available. */
  private[operators] def resolveNprobe(nprobe: Int, cells: Long): Int =
    if (nprobe != AutoProbes) nprobe
    else math.min(cells,
      math.max(IvfProbes.toLong,
        math.round(cells * IvfProbeFraction))).toInt

  /** MEASURED calibration bounds for the concentration-weighted auto
    * dial — two corpus shapes, each frontier-qualified at 1×/10×/30×
    * (SCALING.md rounds 12–13), keyed on the index's own measured mean
    * assignment cosine (`_stats/build.parquet` vector-weighted with the
    * committed appends' stats rows — [[indexConcentration]]; the
    * calibration numbers below were measured round 13 with the
    * production trainer):
    *   - isotropic synthesis: mean_cos 0.335 / 0.343 / 0.356 at
    *     1×/10×/30× — recall under a FIXED nprobe decays with scale,
    *     holding the probe fraction buys back two-thirds of the decay
    *     (round 12). Bound [[ConcIsotropic]] = 0.40, above every
    *     measured isotropic point, so those corpora keep the
    *     fraction-held rule exactly (no round-12 regression).
    *   - clustered mixture with planted neighbor groups: mean_cos
    *     0.733 / 0.865 / 0.895 at 1×/10×/30× — recall@3 measured FLAT
    *     (0.991–1.000) at EVERY notch from nprobe 4 to the held
    *     fraction (44), so extra probes buy nothing and cost 7× wall
    *     at 30× (5.8 s → 43.3 s). Bound [[ConcClustered]] = 0.73, at
    *     the lowest measured clustered point: at or above it the dial
    *     keeps the [[IvfProbes]] floor.
    * Between the bounds the weight interpolates linearly — declared as
    * interpolation between two MEASURED operating points, not an
    * analytic candidate-count model (round 12 measured why those
    * mislead). */
  private val ConcIsotropic = 0.40
  private val ConcClustered = 0.73

  /** The index's EFFECTIVE mean assignment cosine — how concentrated
    * the corpus it currently serves is around its trained centroids:
    * the vector-weighted combination of the build-stamped stats row
    * and every COMMITTED append's stats row (each append already
    * re-measures its batch against the frozen centroids for the drift
    * report, so this is pure arithmetic over the tiny `_stats`
    * artifacts — no corpus scan). Weighting the appends in keeps the
    * auto-probe dial tracking the corpus the index actually holds: a
    * day-0 isotropic calibration must not keep deciding the probe
    * budget after months of appends have shifted the distribution
    * (and vice versa). Only appends whose commit marker landed count —
    * a crashed attempt's orphan stats row (pre-recovery) must not
    * steer the dial. Absent stats (foreign artifact) → None → the
    * conservative fraction-held rule. */
  /** The `_stats` artifacts read ONCE — (build row, appends rows) with
    * n_vectors and the optional mean_cos each. Both the concentration
    * estimate and the filtered search's index-size denominator derive
    * from these; round 18 reads each tiny parquet a single time per
    * call instead of once per consumer. */
  private def indexStatsArtifacts(spark: SparkSession, indexDir: String)
      : (Option[(Long, Option[Double])],
         Seq[(String, Long, Option[Double])]) = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    val build =
      if (!ifs.exists(ifs.child("_stats", "build.parquet"))) None
      else spark.read.parquet(s"$indexDir/_stats/build.parquet")
        .select(col("n_vectors"), col("mean_cos")).collect().headOption
        .map(b => (b.getLong(0),
          if (b.isNullAt(1)) None else Some(b.getDouble(1))))
    val appends =
      if (!ifs.exists(ifs.child("_stats", "appends.parquet"))) Seq.empty
      else spark.read.parquet(s"$indexDir/_stats/appends.parquet")
        .select(col("batch_id"), col("n_vectors"), col("mean_cos"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    (build, appends)
  }

  /** [[indexConcentration]] on already-read stats artifacts. */
  private def concentrationFrom(spark: SparkSession, indexDir: String,
      stats: (Option[(Long, Option[Double])],
              Seq[(String, Long, Option[Double])])): Option[Double] = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    stats._1.collect { case (bn, Some(bc)) =>
      val logDir = ifs.child("_append_log")
      val committed: Set[String] =
        if (!ifs.exists(logDir)) Set.empty
        else ifs.listDir(logDir).map(_.getName)
          .filter(_.startsWith("batch-"))
          .map(_.stripPrefix("batch-")).toSet
      val appends: Seq[(Long, Double)] = stats._2.collect {
        case (id, n, Some(c)) if committed.contains(id) => (n, c)
      }
      val totalN = bn + appends.map(_._1).sum
      if (totalN <= 0L) bc
      else (bn * bc + appends.map { case (n, c) => n * c }.sum) / totalN
    }
  }

  private[operators] def indexConcentration(spark: SparkSession,
      indexDir: String): Option[Double] =
    concentrationFrom(spark, indexDir,
      indexStatsArtifacts(spark, indexDir))

  /** [[AutoProbes]] resolution for a PERSISTED index: the fraction-held
    * worst-case nprobe ([[resolveNprobe]]), scaled back toward the
    * [[IvfProbes]] floor as the artifact's measured concentration
    * approaches the clustered calibration point — on corpora where the
    * quantizer actually fits (the case IVF exists for), the floor
    * already holds recall and the held fraction only burns compute. */
  private def autoNprobeFor(spark: SparkSession, indexDir: String,
      cells: Long): Int =
    autoNprobeWith(indexConcentration(spark, indexDir), cells)

  /** [[autoNprobeFor]] on an already-computed concentration — callers
    * that also surface the concentration (describeIndex) read the
    * `_stats` artifacts once, not twice. */
  private def autoNprobeWith(conc: Option[Double], cells: Long): Int = {
    val fractional = resolveNprobe(AutoProbes, cells)
    if (fractional <= IvfProbes) fractional
    else conc match {
      case None => fractional
      case Some(c) =>
        val w = math.min(1.0, math.max(0.0,
          (ConcClustered - c) / (ConcClustered - ConcIsotropic)))
        math.min(cells, math.max(IvfProbes.toLong,
          math.round(IvfProbes + (fractional - IvfProbes) * w))).toInt
    }
  }

  /** The filtered-search compensation (round-11 measurement: a 14%
    * filter cost 0.17 recall at 1× because probes are chosen by
    * geometry, so a selective filter thins candidates): scale the auto
    * nprobe by the filter's inverse selectivity — probing nprobe/sel
    * cells restores the EXPECTED number of allowed candidates to the
    * unfiltered budget. Capped at `cells`: past that the search is a
    * PQ-coded scan over the filter's own rows, which is exactly the
    * brute-force-over-allowed economics every filtered-ANN system
    * degrades to under heavy filters. */
  private[operators] def resolveFilteredNprobe(npBase: Int, cells: Long,
      allowedCount: Long, indexSize: Long): Int = {
    val sel = math.max(allowedCount.toDouble /
      math.max(1L, indexSize).toDouble, 1e-6)
    math.min(cells, math.max(npBase.toLong,
      math.round(npBase / sel))).toInt
  }

  /** Sentinel for the persisted LSH index's filtered search: derive the
    * multi-probe RADIUS from the filter's selectivity instead of the
    * fixed radius 2 — the LSH family's analogue of the IVF side's
    * [[resolveFilteredNprobe]] (round 12 left this as prose: "route
    * heavily filtered workloads to IVF-PQ"; round 13 gives the LSH
    * artifact its own compensation dial). */
  val AutoRadius: Int = -1

  /** The fixed multi-probe radius the oracle-gated rows replay (the
    * [[probeMasks]] radius — own bucket + 1-bit + 2-bit flips). */
  private[operators] val LshRadius = 2

  /** Probes at radius `r` over `p` planes: Σ_{i≤r} C(p,i), saturating
    * well below Long overflow (the comparison targets are ≤ 2^p). */
  private[operators] def probeCountAt(p: Int, r: Int): Long = {
    var total = BigInt(0)
    var c = BigInt(1)
    var i = 0
    while (i <= math.min(r, p)) {
      total += c
      c = c * (p - i) / (i + 1)
      i += 1
    }
    if (total > BigInt(Long.MaxValue / 4)) Long.MaxValue / 4 else total.toLong
  }

  /** The filtered LSH search's radius under the auto rule: the smallest
    * radius whose probe count restores the EXPECTED allowed-candidate
    * budget — probing B(r) ≥ B(2)/sel buckets puts as many allowed rows
    * in front of the preselect as the unfiltered radius-2 search sees,
    * the same restore-the-budget arithmetic as the IVF twin's
    * nprobe/sel. Capped at `numPlanes` (all buckets): past that the
    * search degrades to a PQ-coded scan of the filter's own rows — the
    * brute-force-over-allowed economics every filtered-ANN system
    * converges to under heavy filters (the query path detects that
    * case and skips the probe join entirely). Explicit radii pass
    * through untouched. */
  private[operators] def resolveLshRadius(radius: Int, numPlanes: Int,
      allowedCount: Long, indexSize: Long): Int =
    if (radius != AutoRadius) radius
    else {
      val sel = math.max(allowedCount.toDouble /
        math.max(1L, indexSize).toDouble, 1e-6)
      val target = probeCountAt(numPlanes, LshRadius) / sel
      (LshRadius to numPlanes)
        .find(r => probeCountAt(numPlanes, r) >= target)
        .getOrElse(numPlanes)
    }

  /** ANN top-k via an IVF (inverted-file) index: k = ⌈√n⌉ coarse cells,
    * every vector assigned to its nearest centroid (home cell), queries
    * probe their [[IvfProbes]] nearest cells. The candidate fraction per
    * query is nprobe/√n — it SHRINKS as the corpus grows, while the
    * assignment cost n·k·d stays a broadcast-joined narrow pass (the
    * centroid table is k·d doubles — ~8 MB at a billion vectors).
    *
    * Centroids are k-means-refined: the k smallest vec_ids seed the
    * quantizer, then ONE deterministic Lloyd iteration reassigns every
    * vector to its nearest seed (cosine, ties on centroid_id) and
    * replaces each non-empty cell's centroid with the SUM of its member
    * vectors — cosine is scale-invariant, so the un-normalized sum ranks
    * identically to the mean while skipping the division (one fewer
    * fp op to keep bit-stable across engines). The cell sums accumulate
    * on the fixed-buffer [[graft.functions.VectorSumSketch]] (no per-cell
    * collect_list); the DuckDB oracle replays the identical algorithm
    * with a vec_id-ordered fold. Buffer order is partition order, so the
    * two may differ in the last ulp — which could flip a near-tie
    * assignment; on the gated fixtures they hash-match (`OracleGateSpec`
    * gates it).
    *
    * On the random-vector fixtures (worst case: no cluster structure for
    * ANY coarse quantizer) recall@3 is floor-pinned in `SimilaritySpec`;
    * the LSH variant ([[annLshProd]]) is the stronger choice on
    * unclustered data, IVF wins when the corpus clusters. */
  def annIvfProd(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    val cand = ivfCandidates(spark, dir)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (cand
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev")),
        "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"), col("cosine")))
  }

  /** The IVF coarse quantizer: ⌈√n⌉ seeds → one Lloyd iteration → cell
    * centroids (centroid_id, cv), the cell sums on the fixed-buffer
    * vector aggregate. Factored out of [[ivfCandidates]] so the
    * persisted-index build ([[buildIvfPqIndexProd]]) trains the
    * identical quantizer. */
  private def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    ivfCentroidsOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev")))

  /** [[ivfCentroids]] over ANY (vec_id, ev) frame — the incremental
    * index ([[appendToIvfPqIndexProd]]) trains its coarse quantizer on
    * the BASE corpus only, then freezes it across delta appends. */
  private def ivfCentroidsOn(v: DataFrame): DataFrame = {
    val n = v.count()
    val k = math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val seeds = v.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("centroid_id"), col("ev").as("cv"))
    // --- one Lloyd iteration: home cell under the seeds, then cell sums.
    // Argmax via max_by (round 17): the former ranked-window form
    // (row_number over partitionBy(vec_id), filter r = 1, join back to v
    // for the vectors) shuffled every (vector, seed) candidate row and
    // then both join sides; the aggregate picks the IDENTICAL winner —
    // the ordering key (scos desc, centroid_id asc) is made a unique
    // max_by key as (scos, -centroid_id), doubles order NaN-above-all in
    // both forms — with map-side partial aggregation (one row per vector
    // crosses the exchange) and carries `ev` so no join-back is needed.
    v.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("centroid_id"), col("ev"),
        cosine(col("ev"), col("cv")).as("scos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("centroid_id"), col("ev")),
        struct(col("scos"), (-col("centroid_id")).as("tb"))).as("h"))
      .select(col("vec_id"), col("h.centroid_id").as("centroid_id"),
        col("h.ev").as("ev"))
      .groupBy(col("centroid_id"))
      .agg(graft.functions.SketchFunctions.vector_sum(col("ev"), Dim).as("cv"))
  }

  /** Every vector's [[IvfProbes]] nearest cells under `cent`:
    * (vec_id, centroid_id, crnk). crnk 1 is the home cell. */
  private def ivfAssign(v: DataFrame, cent: DataFrame,
      nprobe: Int = IvfProbes): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("centroid_id"),
        cosine(col("ev"), col("cv")).as("ccos"))
      .withColumn("crnk", row_number().over(wAssign))
      .filter(col("crnk") <= nprobe)
      .select(col("vec_id"), col("centroid_id"), col("crnk"))
  }

  /** The IVF index build + probe, through candidate (query, member)
    * pairs — shared by [[annIvfProd]], [[annIvfSqProd]] and
    * [[annIvfPqProd]]. */
  private def ivfCandidates(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    val assign = ivfAssign(v, ivfCentroids(spark, dir))
    val members = assign.filter(col("crnk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"))
    // each member has ONE home cell and each query probes distinct cells,
    // so a (query, member) pair arises at most once — no dedup needed
    (assign.join(members, "centroid_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id")))
  }

  /** Preselection width for [[annIvfSqProd]] — approx-ranked candidates kept
    * per query before the full-precision rerank. */
  private val SqPreK = 12

  /** The IVF index/probe CTE chain through candidate pairs — shared by
    * [[annIvfOracle]] and [[annIvfSqOracle]], mirroring
    * [[ivfCandidates]]. */
  private val ivfCandCtes: String =
    s"""$vCte,
       |kk AS (SELECT GREATEST(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |       FROM embeddings),
       |seeds AS (SELECT vec_id AS centroid_id, ev AS cv FROM v
       |          QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       |h0 AS (SELECT v.vec_id, s.centroid_id,
       |              ${sqlCos("v.ev", "s.cv")} AS scos
       |       FROM v CROSS JOIN seeds s),
       |home AS (SELECT vec_id, centroid_id FROM (
       |           SELECT vec_id, centroid_id,
       |                  row_number() OVER (PARTITION BY vec_id
       |                                     ORDER BY scos DESC, centroid_id) AS r
       |           FROM h0)
       |         WHERE r = 1),
       |mx AS (SELECT h.centroid_id, v.vec_id, CAST(i AS BIGINT) - 1 AS dim,
       |              v.ev[CAST(i AS INT)] AS x
       |       FROM home h JOIN v ON h.vec_id = v.vec_id,
       |            range(1, $Dim + 1) t(i)),
       |md AS (SELECT centroid_id, dim,
       |              list_reduce(list_transform(
       |                  list_sort(array_agg({'vec_id': vec_id, 'x': x})),
       |                  s -> s.x),
       |                (a, b) -> a + b) AS m
       |       FROM mx GROUP BY 1, 2),
       |cent AS (SELECT centroid_id,
       |                list_transform(
       |                  list_sort(array_agg({'dim': dim, 'm': m})),
       |                  s -> s.m) AS cv
       |         FROM md GROUP BY 1),
       |a0 AS (SELECT v.vec_id, c.centroid_id,
       |              ${sqlCos("v.ev", "c.cv")} AS ccos
       |       FROM v CROSS JOIN cent c),
       |assign AS (SELECT vec_id, centroid_id, crnk FROM (
       |             SELECT vec_id, centroid_id,
       |                    row_number() OVER (PARTITION BY vec_id
       |                                       ORDER BY ccos DESC, centroid_id)
       |                      AS crnk
       |             FROM a0)
       |           WHERE crnk <= $IvfProbes),
       |members AS (SELECT vec_id AS neighbor_id, centroid_id
       |            FROM assign WHERE crnk = 1),
       |cand AS (SELECT a.vec_id, m.neighbor_id
       |         FROM assign a JOIN members m USING (centroid_id)
       |         WHERE a.vec_id <> m.neighbor_id)""".stripMargin

  val annIvfOracle: String =
    s"""WITH $ivfCandCtes,
       |p AS (SELECT c.vec_id, c.neighbor_id,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM cand c
       |      JOIN v a ON c.vec_id = a.vec_id
       |      JOIN v b ON c.neighbor_id = b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Oracle for [[annIvfSqProd]]: the same candidate chain, an SQ
    * decode-to-midpoint of every vector (the [[quantizeSqOracle]]
    * arithmetic), approx preselect, full-precision rerank. */
  val annIvfSqOracle: String =
    s"""WITH $ivfCandCtes,
       |e AS (SELECT vec_id, CAST(i AS BIGINT) - 1 AS d,
       |             ev[CAST(i AS INT)] AS x
       |      FROM v, range(1, $Dim + 1) t(i)),
       |st AS (SELECT d, min(x) AS lo, max(x) AS hi FROM e GROUP BY 1),
       |qc AS (SELECT vec_id, e.d AS d, x, lo, hi,
       |              CASE WHEN hi = lo THEN 0
       |                   ELSE CAST(least(255.0,
       |                          floor((x - lo) / (hi - lo) * 256.0)) AS BIGINT)
       |              END AS code
       |       FROM e JOIN st USING (d)),
       |qd AS (SELECT vec_id, d,
       |              lo + (CAST(code AS DOUBLE) + 0.5) / 256.0 * (hi - lo) AS y
       |       FROM qc),
       |qv AS (SELECT vec_id,
       |              list_transform(list_sort(array_agg({'d': d, 'y': y})),
       |                             s -> s.y) AS qv
       |       FROM qd GROUP BY 1),
       |a0q AS (SELECT c.vec_id, c.neighbor_id,
       |               ${sqlCos("qa.qv", "qb.qv")} AS acos
       |        FROM cand c
       |        JOIN qv qa ON c.vec_id = qa.vec_id
       |        JOIN qv qb ON c.neighbor_id = qb.vec_id),
       |pre AS (SELECT vec_id, neighbor_id FROM (
       |          SELECT vec_id, neighbor_id,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY acos DESC, neighbor_id)
       |                   AS prernk
       |          FROM a0q)
       |        WHERE prernk <= $SqPreK),
       |p AS (SELECT c.vec_id, c.neighbor_id,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM pre c
       |      JOIN v a ON c.vec_id = a.vec_id
       |      JOIN v b ON c.neighbor_id = b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // --- LSH-pruned near-dup pairs (the scale path for cosineNearDup) --------

  /** XOR masks for radius-2 multi-probe: the zero mask (own bucket), every
    * single-bit flip, and every two-bit flip. A true pair is missed only
    * when its sign patterns differ in ≥ 3 of the planes — for planted
    * cosine-0.99 pairs (flip probability ≈ θ/π ≈ 4.5% per plane) that is
    * ≲ 0.2% at 6 planes. */
  private def probeMasks(numPlanes: Int): Seq[Long] =
    Seq(0L) ++
      (0 until numPlanes).map(i => 1L << i) ++
      (for { i <- 0 until numPlanes; j <- (i + 1) until numPlanes }
        yield (1L << i) | (1L << j))

  /** [[probeMasks]] generalized to radius `r`: every XOR mask of
    * popcount ≤ r, each subset enumerated once (by its lowest set bit).
    * Radius 2 yields the same SET as [[probeMasks]]; the filtered
    * search's [[AutoRadius]] dial widens r by inverse selectivity. */
  private[operators] def probeMasksR(numPlanes: Int, r: Int): Seq[Long] = {
    def withBits(start: Int, left: Int): Seq[Long] =
      if (left == 0) Seq.empty
      else (start until numPlanes).flatMap { i =>
        val base = 1L << i
        base +: withBits(i + 1, left - 1).map(base | _)
      }
    0L +: withBits(0, math.min(r, numPlanes))
  }

  /** Symmetric-PQ prefilter margin for the near-dup confirm: a candidate
    * pair reaches the exact-cosine join only when the cosine of its two
    * PQ-DECODED approximations clears this. Deliberately NOT the 0.9
    * confirm threshold: the prefilter must never lose a true pair (the
    * exact confirm already decides), so it needs headroom for the WORST
    * quantization error a true pair can suffer. Round 10 measured that
    * worst case on an adversarial borderline fixture (pairs planted at
    * exact cosine just above 0.9 with the perturbation spread across
    * every dimension): the minimum decoded cosine of a true pair was
    * 0.431 — below the original 0.5 margin, which would have silently
    * dropped it (and the DuckDB oracle replays the same filter, so the
    * hash gate could not have seen the loss; only the independent moat
    * spec in `SimilaritySpec` catches it). 0.3 keeps 0.13 of measured
    * headroom while still pruning the LSH buckets' incidental
    * candidates (exact cosine ≈ 0 on random text embeddings, decoding
    * near 0); the 30× stress point re-measured within its round-9
    * envelope after the change (SCALING.md round 10). */
  private[graft] val NearDupPqMargin = 0.3

  /** Near-dup pairs via bucketed LSH with radius-2 multi-probe: side A
    * probes its own bucket plus every bucket within hamming distance 2 of
    * it; candidates pass a symmetric-PQ prefilter (8-byte packed codes on
    * BOTH sides — the round-9 stress run measured the unpruned confirm
    * joining full 512 B embeddings onto every candidate pair, ~10⁸ rows
    * at 30× fixture scale, the same disease the ANN family's round-8
    * asymmetric prune cured), and only the survivors reach the exact
    * cosine ≥ 0.9 confirm. Replaces the O(n²·d) cartesian of
    * [[cosineNearDup]] with work proportional to (#probes ≈ planes²/2) ×
    * bucket occupancy × n, shuffling ~32 B per candidate instead of ~1 KiB.
    * Recall vs the exact pair set is pinned by `SimilaritySpec`.
    *
    * The PQ prefilter uses the fixed-buffer base-corpus codebook
    * ([[pqCodebookProd]] — no per-cell collect_list) and the scan-side
    * native packed assignment ([[graft.functions.PqAssign]]). The DuckDB
    * oracle trains its codebook on the near-dup vector set (base ∪
    * planted copies) with a vec_id-ordered fold. The [[NearDupPqMargin]]
    * headroom lets either prefilter pass every pair the exact confirm
    * accepts, so the confirmed pair sets agree (`OracleGateSpec` gates
    * it). */
  def nearDupLshProd(spark: SparkSession, dir: String): DataFrame = {
    val v = withNearDupVecs(spark, dir)
    val cb = pqCodebookProd(spark, dir)
    val pq = graft.functions.VectorFunctions.pq_assign(
      col("ev").cast("array<float>"), cb, PqS)
    // scan-side code expression fused into the candidate dataflow's own
    // corpus projection — no separate packed frame, no joins (round 17)
    nearDupLshFrom(spark, dir, v, cb, pq.getField("packed"))
  }

  /** Near-dup dataflow: ids-only candidate generation → 8-byte
    * packed codes on both sides → symmetric-PQ approximate-cosine
    * prefilter ([[graft.functions.PqPackedCosine]] — straight from the
    * two code words against the codebook reference object, no per-row
    * array materialization, inside whole-stage codegen) → exact cosine
    * ≥ 0.9 confirm on the survivors. */
  private def nearDupLshFrom(spark: SparkSession, dir: String,
      vIn: DataFrame, cbArr: Array[Array[Array[Double]]],
      codeExpr: Column): DataFrame = {
    val numPlanes = planesFor(Tables.embeddings(spark, dir).count())
    val v = vIn.withColumn("bucket", bucketExpr(col("ev"), numPlanes))
    // candidate generation and dedup carry the id pair plus the two
    // 8-byte code words — the codes ride the bucket projections
    // themselves (round 17: the former pair of candidate-scale joins
    // that re-attached codes to every surviving pair is gone; codes are
    // computed scan-side). The 64-dim vectors still rejoin only after
    // the prefilter, so no exchange ever moves an embedding per
    // candidate.
    val coded = v.select(col("vec_id"), col("bucket"), codeExpr.as("b_code"))
    val probes = coded.select(col("vec_id"), col("b_code"), explode(array(
      probeMasks(numPlanes).map(m => col("bucket").bitwiseXOR(lit(m))): _*))
      .as("probe"))
    // the symmetric-PQ prefilter runs BEFORE the pair-dedup exchange
    // (deterministic per pair — codes are functions of the ids — so
    // filter-then-dedup selects exactly the dedup-then-filter pairs):
    // only margin survivors pay the dropDuplicates shuffle
    val pf = probes.as("x").join(coded.as("y"),
        col("x.probe") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
        col("x.b_code").as("a_code"), col("y.b_code").as("b_code"))
      .filter(graft.functions.VectorFunctions.pq_packed_cosine(
        col("a_code"), col("b_code"), cbArr) >= NearDupPqMargin)
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val ev = vIn.select(col("vec_id"), col("ev"))
    (pf
      .join(ev.select(col("vec_id").as("a_id"), col("ev").as("a_ev")), "a_id")
      .join(ev.select(col("vec_id").as("b_id"), col("ev").as("b_ev")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .filter(col("cosine") >= 0.9))
  }

  /** Shared CTE chain replaying the LSH near-dup candidate generation +
    * cosine confirm — everything through `p` = the confirmed pair set.
    * [[nearDupLshOracle]] selects the pairs; [[semanticDedupOracle]]
    * closes over them transitively. */
  // lazy: interpolates pqCtes, declared later in the object
  private lazy val nearDupPairsCtes: String =
    s"""$nearDupVecsCte,
       |${planesSql("embeddings")},
       |pw AS (SELECT p,
       |          [CAST((1103515245 * (p * $Dim + i - 1) + 12345) % 2147483648 AS DOUBLE)
       |             / 2147483648.0 - 0.5
       |           for i in range(1, $Dim + 1)] AS w
       |       FROM range(0, $MaxPlanes) t(p)
       |       WHERE p < (SELECT mp FROM np)),
       |vb AS (SELECT v.vec_id,
       |              CAST(sum(CASE WHEN ${sqlDot("v.ev", "pw.w")} > 0
       |                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |       FROM v CROSS JOIN pw GROUP BY v.vec_id),
       |vv AS (SELECT v.vec_id, v.ev, vb.bucket
       |       FROM v JOIN vb ON v.vec_id = vb.vec_id),
       |mk AS (SELECT DISTINCT
       |              xor(CASE WHEN i = -1 THEN 0 ELSE 1 << i END,
       |                  CASE WHEN j = -1 THEN 0 ELSE 1 << j END) AS mask
       |       FROM range(-1, $MaxPlanes) t1(i), range(-1, $MaxPlanes) t2(j)
       |       WHERE i <= j AND i < (SELECT mp FROM np)
       |         AND j < (SELECT mp FROM np)),
       |pr AS (SELECT vec_id, ev, xor(bucket, CAST(mask AS BIGINT)) AS probe
       |       FROM vv CROSS JOIN mk),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |         FROM pr a JOIN vv b
       |           ON a.probe = b.bucket AND a.vec_id < b.vec_id),
       |$pqCtes,
       |pdec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |         FROM pasg GROUP BY 1),
       |pf AS (SELECT c.a_id, c.b_id
       |       FROM cand c
       |       JOIN pdec da ON c.a_id = da.vec_id
       |       JOIN pdec db ON c.b_id = db.vec_id
       |       WHERE ${sqlCos("da.qv", "db.qv")} >= $NearDupPqMargin),
       |p AS (SELECT c.a_id, c.b_id, ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM pf c
       |      JOIN vv a ON c.a_id = a.vec_id
       |      JOIN vv b ON c.b_id = b.vec_id
       |      WHERE ${sqlCos("a.ev", "b.ev")} >= 0.9)""".stripMargin

  lazy val nearDupLshOracle: String =
    s"""WITH $nearDupPairsCtes
       |SELECT a_id, b_id, cosine FROM p
       |ORDER BY 1, 2, 3""".stripMargin

  // --- semantic dedup (SemDeDup-shaped: components over cosine pairs) -----

  /** Semantic deduplication — the embedding-space analogue of
    * [[Dedup.clusterAssign]] and the shape of SemDeDup-style curation
    * (Abbas et al. 2023, arXiv:2303.09540): documents whose embeddings
    * are near-identical in cosine (paraphrases, boilerplate re-renders,
    * format shifts — duplicates NO lexical hash can pair) are grouped
    * into clusters, and one representative per cluster is kept.
    *
    * Dataflow: the [[nearDupLshProd]] pair set (bucketed candidates +
    * exact-cosine confirm, recall pinned in `SimilaritySpec`) feeds the
    * same min-label-propagation connected components the minhash cluster
    * assign uses ([[Dedup.connectedComponents]]); every vector of the
    * corpus then joins the converged labels once. Output: (vec_id,
    * cluster_rep = min reachable vec_id, is_keeper).
    *
    * Scale shape: candidate pairs ∝ true duplicates (LSH buckets, never
    * all-pairs); the propagation loop's state is ∝ #documents INCIDENT
    * to a pair, never corpus size; each round is one shuffle of that
    * edge-induced subgraph. The full corpus touches the loop exactly
    * once, in the final left join. */
  def semanticDedupProd(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupLshProd(spark, dir).select(col("a_id"), col("b_id"))
    val nodes = withNearDupVecs(spark, dir)
      .select(col("vec_id").as("doc_id"))
    Dedup.connectedComponents(nodes, pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_rep"),
        col("is_keeper"))
  }

  /** DuckDB replay: transitive closure (recursive CTE) over the SAME
    * replayed LSH pair set — min reachable vec_id per vector, singletons
    * keeping themselves. */
  lazy val semanticDedupOracle: String =
    s"""WITH RECURSIVE $nearDupPairsCtes,
       |e AS (SELECT a_id AS u, b_id AS w FROM p
       |      UNION ALL
       |      SELECT b_id AS u, a_id AS w FROM p),
       |reach(u, w) AS (
       |  SELECT vec_id AS u, vec_id AS w FROM v
       |  UNION
       |  SELECT r.u, e.w FROM reach r JOIN e ON r.w = e.u)
       |SELECT u AS vec_id, min(w) AS cluster_rep,
       |       u = min(w) AS is_keeper
       |FROM reach GROUP BY u ORDER BY 1, 2, 3""".stripMargin

  // --- per-group centroids (featurization / k-means building block) -------

  /** Element-wise mean embedding per document language — the centroid
    * computation under k-means, per-stratum semantic profiling, and IVF
    * centroid refinement. One shuffle on `lang`, and the aggregation
    * state is a FIXED 64-double buffer per group
    * ([[graft.functions.VectorSumSketch]]) plus a count — a billion-doc
    * language costs 520 bytes of aggregate state, where a per-(lang,
    * dim) `collect_list` fold grows with the group (the round-5
    * verdict's 100×-scale killer). Vectors aggregate whole and dims
    * unpack *after* the aggregate (320 rows), so there is no 64×
    * posexplode row inflation. Accumulation order is partition order,
    * so the doubles may differ from the DuckDB oracle's doc_id-ordered
    * fold in the last ulp; on the gated fixtures they hash-match
    * (`OracleGateSpec`). */
  def centroidByLangProd(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), dvec.as("ev"))
    (d.join(e, "doc_id")
      .groupBy(col("lang"))
      .agg(graft.functions.SketchFunctions.vector_sum(col("ev"), Dim).as("sums"),
        count(lit(1)).as("n"))
      .select(col("lang"), posexplode(col("sums")).as(Seq("dim", "s")), col("n"))
      .select(col("lang"), col("dim").cast("long").as("dim"),
        (col("s") / col("n").cast("double")).as("centroid"), col("n")))
  }

  val centroidByLangOracle: String =
    s"""WITH j AS (
       |  SELECT d.doc_id, d.lang, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |x AS (
       |  SELECT doc_id, lang, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x,
       |         CAST(i AS BIGINT) - 1 AS dim
       |  FROM j, range(1, ${Dim + 1}) t(i))
       |SELECT lang, dim,
       |       list_reduce(list_transform(
       |           list_sort(array_agg({'doc_id': doc_id, 'x': x})),
       |           s -> s.x),
       |         (a, b) -> a + b) / count(*) AS centroid,
       |       count(*) AS n
       |FROM x GROUP BY 1, 2 ORDER BY 1, 2, 3, 4""".stripMargin

  // --- scalar (int8) quantization ------------------------------------------

  val quantizeSqOracle: String =
    """WITH s AS (SELECT vec_id,
      |                  [{'d': i - 1, 'x': CAST(embedding[CAST(i AS INT)] AS DOUBLE)}
      |                   for i in range(1, len(embedding) + 1)] AS ts
      |           FROM embeddings),
      |e AS (SELECT vec_id, unnest(ts, recursive := true) FROM s),
      |st AS (SELECT d, min(x) AS lo, max(x) AS hi FROM e GROUP BY 1),
      |q AS (SELECT vec_id, e.d AS d, x, lo, hi,
      |             CASE WHEN hi = lo THEN 0
      |                  ELSE CAST(least(255.0,
      |                         floor((x - lo) / (hi - lo) * 256.0)) AS BIGINT)
      |             END AS code
      |      FROM e JOIN st USING (d)),
      |r AS (SELECT vec_id, d, code,
      |             abs(x - (lo + (CAST(code AS DOUBLE) + 0.5) / 256.0
      |                           * (hi - lo))) AS err
      |      FROM q)
      |SELECT vec_id,
      |       array_to_string(list(code ORDER BY d), ',') AS codes,
      |       max(err) AS max_err
      |FROM r GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  /** Per-dimension scalar quantization to 8-bit codes — the memory lever
    * that makes billion-vector ANN fit executor RAM (4 bytes → 1 byte per
    * dimension; IVF cell scans then read codes and only rerank survivors
    * at full precision). Codes are `min(255, ⌊(x−lo_d)/(hi_d−lo_d)·256⌋)`
    * against per-dimension corpus min/max; output is the comma-joined
    * code string (scalar for the DuckDB row-hash compare) plus the
    * vector's max reconstruction error at code midpoints.
    *
    * Determinism: min/max of floats are order-independent; every
    * remaining op is IEEE double arithmetic in a parenthesized fixed
    * order, and `floor`/`least`/`abs`/`greatest` are exact — Spark and
    * DuckDB agree to the last bit (no rounding-mode dependence: `floor`,
    * not `round`).
    *
    * Scale shape: the per-dimension stats are computed once (a 64-group
    * aggregate, partial map-side), collected — 64 (lo, hi) doubles, a
    * kilobyte — and folded into a single scan-side `zip_with` over the
    * embedding array: no explode, no join, no groupBy re-assembly; one
    * narrow pass emits codes + error directly. */
  def quantizeSqProd(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val stats = e
      .select(posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("d"), col("xf").cast("double").as("x"))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().sortBy(_.getInt(0))
    val lo = array(stats.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val hi = array(stats.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    val xs = transform(col("embedding"), x => x.cast("double"))
    val codes = zip_with(zip_with(xs, lo, (x, l) => struct(x.as("x"), l.as("lo"))),
      hi, (xl, h) => {
        val x = xl.getField("x"); val l = xl.getField("lo")
        when(h === l, lit(0L))
          .otherwise(least(lit(255.0),
            floor((x - l) / (h - l) * lit(256.0))).cast("long"))
      })
    val errs = zip_with(zip_with(xs, lo, (x, l) => struct(x.as("x"), l.as("lo"))),
      hi, (xl, h) => {
        val x = xl.getField("x"); val l = xl.getField("lo")
        val code = when(h === l, lit(0L))
          .otherwise(least(lit(255.0),
            floor((x - l) / (h - l) * lit(256.0))).cast("long"))
        abs(x - (l + (code.cast("double") + lit(0.5)) / lit(256.0) * (h - l)))
      })
    (e.select(col("vec_id"),
      array_join(codes, ",").as("codes"),
      array_max(errs).as("max_err")))
  }

  /** Deterministic spherical k-means (Lloyd) over an (vec_id, ev) frame —
    * the general form of the one refinement iteration [[annIvfProd]] bakes
    * in, exposed so users can train a better IVF coarse quantizer (or
    * any clustering) with a fixed iteration budget. Seeds are the k
    * smallest vec_ids (reproducible, no RNG); each iteration assigns
    * every vector to its max-cosine centroid (ties on centroid_id) and
    * replaces each non-empty cell with the SUM of its members — cosine
    * is scale-invariant, so the sum ranks identically to the mean with
    * one fewer fp op. Deterministic end to end: same input → bit-equal
    * centroids, and the spherical-k-means objective (mean max-cosine) is
    * non-decreasing per iteration — both pinned in `KMeansSpec`.
    *
    * Scale: per iteration one broadcast cross join (centroid table is
    * k·d doubles) and one fixed-buffer aggregate ([[graft.functions
    * .SketchAggregates]] vector_sum — d doubles per cell, never a
    * per-member list). The driver loop carries only the iteration count;
    * k and d bound the broadcast, n only flows through scans. */
  def kmeans(vectors: DataFrame, k: Int, iters: Int,
      dim: Int = Dim): DataFrame = {
    require(k >= 1 && iters >= 0)
    var cent = vectors.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("centroid_id"), col("ev").as("cv"))
    for (_ <- 0 until iters) {
      // argmax home cell via max_by (same winner as the former ranked
      // window — unique (scos, -centroid_id) key; see ivfCentroidsOn),
      // carrying ev so the per-iteration join-back to `vectors` is gone
      cent = vectors.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("centroid_id"), col("ev"),
          cosine(col("ev"), col("cv")).as("scos"))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("centroid_id"), col("ev")),
          struct(col("scos"), (-col("centroid_id")).as("tb"))).as("h"))
        .select(col("h.centroid_id").as("centroid_id"), col("h.ev").as("ev"))
        .groupBy(col("centroid_id"))
        .agg(graft.functions.SketchFunctions.vector_sum(col("ev"), dim).as("cv"))
    }
    cent
  }

  /** Per-dimension (lo, hi) literal arrays for the int8 SQ codec — one
    * bounded stats collect (2·[[Dim]] doubles). */
  private def sqStatArrays(spark: SparkSession,
      dir: String): (Array[Double], Array[Double]) = {
    val stats = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("d"), col("xf").cast("double").as("x"))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().sortBy(_.getInt(0))
    (stats.map(_.getDouble(1)), stats.map(_.getDouble(2)))
  }

  private def litArr(a: Array[Double]): Column =
    array(a.map(lit).toIndexedSeq: _*)

  /** The embedding column's int8 SQ codes as array<tinyint> — ONE byte
    * per dimension, the payload the candidate join actually ships (the
    * round-10 exchange audit's contract: codes through the exchange,
    * never decoded vectors). Codes are shifted by −128 into the signed
    * byte range; [[sqDecodeCodes]] adds it back in exact integer
    * arithmetic, so decode(encode(x)) is bit-identical to the former
    * fused decode and the DuckDB oracle is unchanged. */
  private def sqCodesExpr(loArr: Array[Double], hiArr: Array[Double]): Column = {
    val (lo, hi) = (litArr(loArr), litArr(hiArr))
    val xs = transform(col("embedding"), x => x.cast("double"))
    zip_with(zip_with(xs, lo, (x, l) => struct(x.as("x"), l.as("lo"))),
      hi, (xl, h) => {
        val x = xl.getField("x"); val l = xl.getField("lo")
        val code = when(h === l, lit(0L))
          .otherwise(least(lit(255.0),
            floor((x - l) / (h - l) * lit(256.0))).cast("long"))
        (code - 128L).cast("byte")
      })
  }

  /** Decode an array<tinyint> SQ code vector back to its midpoint
    * approximation — the identical arithmetic as the former fused
    * encode+decode expression (integer un-shift, then the same double
    * ops in the same order), so scores are bit-stable. */
  private def sqDecodeCodes(codes: Column, loArr: Array[Double],
      hiArr: Array[Double]): Column = {
    val (lo, hi) = (litArr(loArr), litArr(hiArr))
    zip_with(zip_with(codes, lo, (c, l) => struct(c.as("c"), l.as("lo"))),
      hi, (cl, h) => {
        val c = cl.getField("c"); val l = cl.getField("lo")
        l + ((c.cast("int") + lit(128)).cast("double") + lit(0.5)) /
          lit(256.0) * (h - l)
      })
  }

  /** IVF + scalar-quantized rerank — the memory architecture of a real
    * billion-vector ANN service composed from this library's pieces: the
    * IVF index prunes the corpus to nprobe/√n candidate cells, the
    * CANDIDATE SCAN ranks on int8-decoded approximations ([[quantizeSqProd]]
    * codes — 1 byte/dim resident instead of 4), and only the top
    * [[SqPreK]] survivors per query are reranked at full precision for
    * the final top-[[AnnK]].
    *
    * At 100 TB the point is the middle stage: the big candidate join
    * carries 64×1 B CODE arrays (round 10 — previously it joined the
    * decoded 512 B doubles onto every candidate, the same structural
    * disease the exchange audit caught in the PQ form; now both decodes
    * run in-stage and only codes cross the candidate-scale exchange),
    * and the full-precision table is touched only by the final
    * |queries|×[[SqPreK]] rerank join — which is what keeps cell scans
    * in executor RAM. Every stage is deterministic — the decode
    * arithmetic is [[quantizeSqProd]]'s (integer un-shift then the same
    * double ops, bit-stable), folds are in index order, the cell sums
    * are [[annIvfProd]]'s — so the DuckDB oracle replays the whole
    * composition; `SimilaritySpec` additionally floors recall vs the
    * un-quantized [[annIvfProd]]. */
  def annIvfSqProd(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    val (lo, hi) = sqStatArrays(spark, dir)
    // candidates pick up the NEIGHBOR side as 64×1 B codes (the only
    // payload crossing the candidate-scale exchange — round-10 audit,
    // same shape as the LSH/PQ forms); the query side joins its decoded
    // approximation once per candidate IN-stage (linear vector exchange,
    // dropped before the window sort), and the neighbor decode runs
    // inline on the join output
    val codes = Tables.embeddings(spark, dir)
      .select(col("vec_id"), sqCodesExpr(lo, hi).as("qc"))
    val aq = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        sqDecodeCodes(sqCodesExpr(lo, hi), lo, hi).as("a_qv"))
    val cand = ivfCandidates(spark, dir)
    val wPre = Window.partitionBy(col("vec_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val pre = cand
      .join(codes.select(col("vec_id").as("neighbor_id"),
        col("qc").as("b_qc")), "neighbor_id")
      .join(aq, "vec_id")
      .select(col("vec_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.sq_asymmetric_cosine(
          col("a_qv"), col("b_qc"), lo, hi).as("acos"))
      .withColumn("prernk", row_number().over(wPre))
      .filter(col("prernk") <= SqPreK)
      .select(col("vec_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (pre
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev")),
        "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"), col("cosine")))
  }

  // --- product quantization (PQ) and IVF-PQ --------------------------------

  /** PQ geometry: [[Dim]] = 64 splits into [[PqM]] = 16 subspaces of
    * [[PqS]] = 4 dims; each subspace gets a [[PqK]] = 16-centroid
    * codebook → a vector compresses to 16 four-bit codes (8 BYTES total
    * vs 256 for the raw floats, vs 64 for SQ int8) — product
    * quantization per Jégou et al., the compression behind
    * billion-vector IVF-PQ indexes. 4-dim subspaces are the fine end of
    * the standard configs: on unstructured (random) corpora — the worst
    * case for any trained quantizer — coarser subspaces reconstruct too
    * poorly to rank candidates. */
  private val PqM = 16
  private val PqS = Dim / PqM
  private val PqK = 16

  /** Preselect width for the PQ-approximate ranking — wider than the
    * int8 [[SqPreK]] because 4-bit codes rank more coarsely; real IVF-PQ
    * deployments rerank 4–10× the final k for the same reason. Still a
    * fixed constant: candidates per query grow as nprobe·√n, so the
    * prune ratio IMPROVES with corpus size. */
  private val PqPreK = 32

  /** Squared-L2 over subvectors — PQ's standard metric (subvectors are
    * not meaningfully normalized, so cosine is wrong here). The native
    * [[graft.functions.SquaredL2]]: same left-fold-in-index-order
    * discipline as [[dot]], so the DuckDB replay is unchanged; the HOF
    * form it replaces ran interpreted in the codebook-training join. */
  private def l2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.squared_l2(a, b)

  private def sqlL2(a: String, b: String): String =
    s"list_reduce([($a[i] - $b[i]) * ($a[i] - $b[i]) " +
      s"for i in range(1, len($a) + 1)], (x, y) -> x + y)"

  /** (vec_id, m, sub): every vector split into its PqM subvectors. */
  private def pqSubsOf(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
      slice(col("ev"), m * PqS + 1, PqS)): _*)).as(Seq("m", "sub")))

  /** Collect any (m, code, cv) codebook frame into the dense array
    * shape (bounded: ≤ [[PqM]]·[[PqK]] rows ≈ 1 KiB of doubles). */
  private[graft] def pqCodebookArrOf(cb: DataFrame): Array[Array[Array[Double]]] = {
    val rows = cb.collect()
    (0 until PqM).map { m =>
      rows.filter(_.getInt(0) == m).sortBy(_.getLong(1))
        .map(_.getSeq[Double](2).toArray).toArray
    }.toArray
  }

  /** In-session handle to a persisted IVF-PQ artifact's FROZEN tiny
    * pieces — the ≤⌈√n⌉-row centroid table (collected once: the same
    * driver footprint every broadcast of that table already pays) and
    * the ≤ PqM·PqK codebook. One registry row re-reads these artifacts
    * 2–3× (build encode, delta append, query assignment), each read
    * paying a schema-inference job, a scan, and a fresh broadcast
    * build; the handle is the just-written artifact's read-back held
    * for the REST OF THE SAME CALL, so later phases broadcast a local
    * relation instead (guide §6 — don't re-read what you just wrote,
    * §5 — bounded driver state). It is never stored across calls: every
    * bench/oracle invocation re-reads the parquet artifacts (no
    * cross-run memo), and `cent`/`cbArr` re-expose the exact round-tripped
    * values, so results are bit-identical to the re-read (parquet
    * doubles round-trip exactly — the same argument the round-17
    * frozen-artifact encode rests on). */
  private[operators] final class IvfPqHandle(
      spark: SparkSession,
      centRows: Array[org.apache.spark.sql.Row],
      centSchema: org.apache.spark.sql.types.StructType,
      val cbArr: Array[Array[Array[Double]]]) {
    val cells: Long = centRows.length.toLong
    /** The centroid table as a local relation — broadcasts without a
      * scan job, values = the parquet read-back. */
    def cent: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centSchema)
  }

  /** Read a persisted artifact's centroid table + codebook ONCE into an
    * [[IvfPqHandle]] (two bounded collects — exactly the jobs the old
    * per-phase reads paid, now paid once per call). */
  private[operators] def loadIvfPqHandle(spark: SparkSession,
      indexDir: String): IvfPqHandle = {
    val c = spark.read.parquet(s"$indexDir/centroids.parquet")
    new IvfPqHandle(spark, c.collect(), c.schema,
      pqCodebookArrOf(spark.read.parquet(s"$indexDir/codebook.parquet")))
  }

  /** The PQ CTE chain (sub → seeds → one L2 Lloyd iteration → mean →
    * assignment) mirroring [[pqCodebookProdOn]] and the
    * [[graft.functions.PqAssign]] argmin — requires the `v` CTE in
    * scope. */
  private val pqCtes: String =
    s"""sub AS (SELECT vec_id, m,
       |               ev[m * $PqS + 1 : m * $PqS + $PqS] AS sub
       |        FROM v, range(0, $PqM) t(m)),
       |seedid AS (SELECT vec_id FROM v
       |           QUALIFY row_number() OVER (ORDER BY vec_id) <= $PqK),
       |sseed AS (SELECT b.m, b.vec_id AS centroid_id, b.sub AS cv
       |          FROM sub b JOIN seedid USING (vec_id)),
       |phome AS (SELECT vec_id, m, centroid_id FROM (
       |            SELECT s.vec_id, s.m, c.centroid_id,
       |                   row_number() OVER (
       |                     PARTITION BY s.vec_id, s.m
       |                     ORDER BY ${sqlL2("s.sub", "c.cv")}, c.centroid_id)
       |                     AS r
       |            FROM sub s JOIN sseed c ON s.m = c.m)
       |          WHERE r = 1),
       |pmx AS (SELECT h.m, h.centroid_id, s.vec_id,
       |               CAST(i AS BIGINT) - 1 AS dim, s.sub[CAST(i AS INT)] AS x
       |        FROM phome h
       |        JOIN sub s ON h.vec_id = s.vec_id AND h.m = s.m,
       |             range(1, $PqS + 1) t(i)),
       |pmd AS (SELECT m, centroid_id, dim,
       |               list_reduce(list_transform(
       |                   list_sort(array_agg({'vec_id': vec_id, 'x': x})),
       |                   s -> s.x),
       |                 (a, b) -> a + b) / count(*) AS mu
       |        FROM pmx GROUP BY 1, 2, 3),
       |pcent AS (SELECT m, centroid_id,
       |                 list_transform(
       |                   list_sort(array_agg({'dim': dim, 'mu': mu})),
       |                   s -> s.mu) AS cv
       |          FROM pmd GROUP BY 1, 2),
       |pcb AS (SELECT m, cv,
       |               row_number() OVER (PARTITION BY m
       |                                  ORDER BY centroid_id) - 1 AS code
       |        FROM pcent),
       |pasg AS (SELECT vec_id, m, code, sub, cv FROM (
       |           SELECT s.vec_id, s.m, c.code, s.sub, c.cv,
       |                  row_number() OVER (
       |                    PARTITION BY s.vec_id, s.m
       |                    ORDER BY ${sqlL2("s.sub", "c.cv")}, c.code) AS r
       |           FROM sub s JOIN pcb c ON s.m = c.m)
       |         WHERE r = 1)""".stripMargin

  val quantizePqOracle: String =
    s"""WITH $vCte,
       |$pqCtes,
       |er AS (SELECT vec_id, m, code,
       |              list_reduce(list_prepend(0.0,
       |                  [abs(sub[i] - cv[i]) for i in range(1, $PqS + 1)]),
       |                (a, b) -> greatest(a, b)) AS err
       |       FROM pasg)
       |SELECT vec_id,
       |       array_to_string(list(code ORDER BY m), ',') AS codes,
       |       max(err) AS max_err
       |FROM er GROUP BY 1 ORDER BY 1, 2, 3""".stripMargin

  /** The per-subspace PQ codebooks after one deterministic Lloyd
    * iteration (L2): seeds are the subvectors of the [[PqK]] smallest
    * vec_ids, each (vector, subspace) assigns to its nearest seed (ties
    * on centroid_id), and each surviving cell's centroid becomes the
    * member MEAN (L2 is not scale-invariant, so unlike the cosine
    * k-means the division is required). cb(m)(code) = the centroid
    * subvector, where `code` is the centroid's dense index within its
    * subspace (centroid_id order) — what a 4-bit register would store.
    * Built with the fixed-buffer Lloyd cell sums (no per-cell
    * collect_list), collected as [[PqM]]·[[PqK]]·[[PqS]] ≤ 1024
    * doubles — a literal kilobyte, the whole point of PQ. */
  private def pqCodebookProd(spark: SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    pqCodebookProdOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev")))

  /** [[pqCodebookProd]] over ANY (vec_id, ev) frame — the production
    * incremental index trains on the base corpus only. */
  private[graft] def pqCodebookProdOn(v: DataFrame): Array[Array[Array[Double]]] = {
    val subs = pqSubsOf(v)
    val seedSubs = pqSubsOf(v.orderBy(col("vec_id")).limit(PqK))
      .select(col("m"), col("vec_id").as("centroid_id"), col("sub").as("cv"))
    // argmin seed via min_by (same winner as the former ranked window —
    // unique (sdist, centroid_id) key), `sub` carried: no join-back
    val rows = subs.join(broadcast(seedSubs), Seq("m"))
      .select(col("vec_id"), col("m"), col("centroid_id"), col("sub"),
        l2(col("sub"), col("cv")).as("sdist"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(struct(col("centroid_id"), col("sub")),
        struct(col("sdist"), col("centroid_id"))).as("h"))
      .select(col("m"), col("h.centroid_id").as("centroid_id"),
        col("h.sub").as("sub"))
      .groupBy(col("m"), col("centroid_id"))
      .agg(graft.functions.SketchFunctions.vector_sum(col("sub"), PqS).as("sv"),
        count(lit(1)).as("cnt"))
      .select(col("m"), col("centroid_id"),
        transform(col("sv"), s => s / col("cnt")).as("cv"))
      .collect()
    (0 until PqM).map { m =>
      rows.filter(_.getInt(0) == m).sortBy(_.getLong(1))
        .map(_.getSeq[Double](2).toArray).toArray
    }.toArray
  }

  /** Product quantization of the embedding column: codes assembled per
    * vector in subspace order, plus the max per-dimension reconstruction
    * error against the assigned centroids (output shape mirrors
    * [[quantizeSqProd]]). The collected codebooks ride into ONE
    * scan-side projection as a codegen reference object, and the whole
    * assignment — distances, argmin with the smallest-code tie-break,
    * error, decode — runs in the native [[graft.functions.PqAssign]]
    * loop (the HOF formulation cost ~0.6 ms/row interpreted). No
    * explode, no join, no shuffle; the 100 TB shape (assignment is
    * n·K·d flops against a kilobyte codebook). Codebook training still
    * runs the two bounded collect jobs. The DuckDB oracle replays the
    * same algorithm with vec_id-ordered folds; the fixed-buffer cell
    * sums are last-ulp order-dependent, which could flip a near-tie
    * assignment (same caveat as [[annIvfProd]]), and on the gated
    * fixtures the codes hash-match (`OracleGateSpec`). */
  def quantizePqProd(spark: SparkSession, dir: String): DataFrame = {
    val pq = graft.functions.VectorFunctions
      .pq_assign(col("embedding"), pqCodebookProd(spark, dir), PqS)
    (Tables.embeddings(spark, dir)
      .select(col("vec_id"), pq.as("pq"))
      .select(col("vec_id"),
        col("pq.codes").as("codes"), col("pq.max_err").as("max_err")))
  }

  /** IVF-PQ — the billion-vector ANN architecture (FAISS's workhorse)
    * composed from this library's pieces: the IVF coarse quantizer
    * prunes to nprobe/√n candidate cells, the candidate scan ranks with
    * the ASYMMETRIC distance (full-precision query against the
    * candidate's PQ-decoded 4-byte approximation — cheaper AND more
    * accurate than symmetric code-vs-code), and only the top [[PqPreK]]
    * survivors rerank at full precision. Versus [[annIvfSqProd]]'s int8
    * path, the resident candidate payload shrinks another 8× (8 bytes
    * vs 64 per vector). Codes come from the scan-side native packed
    * assignment ([[graft.functions.PqAssign]]'s `packed` field, as in
    * [[annLshProd]]) and the IVF cell sums from the fixed-buffer
    * aggregate — no per-group collection anywhere. Deterministic →
    * DuckDB-replayed; recall retention vs the un-quantized
    * [[annIvfProd]] is floored in `SimilaritySpec`. */
  def annIvfPqProd(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    val cbArr = pqCodebookProd(spark, dir)
    val pq = graft.functions.VectorFunctions
      .pq_assign(col("embedding"), cbArr, PqS)
    val packed = Tables.embeddings(spark, dir)
      .select(col("vec_id"), pq.getField("packed").as("b_code"))
    annIvfPqFrom(spark, dir, v, packed, cbArr)
  }

  /** The IVF-PQ tail: candidates → 8-byte packed-code join →
    * asymmetric preselect → rerank. The candidate join ships each
    * neighbor's ONE-long code word, never a decoded array (the round-10
    * exchange audit caught the previous decoded-qv join moving
    * candidate-scale 512 B rows through the neighbor_id exchange — the
    * same disease the round-8 LSH fix cured); ranking is the native
    * [[graft.functions.PqAsymmetricCosine]], bit-identical to the
    * cosine against the decoded array (spec-pinned), so the DuckDB
    * oracle replay is unchanged. */
  private def annIvfPqFrom(spark: SparkSession, dir: String, v: DataFrame,
      packed: DataFrame, cbArr: Array[Array[Array[Double]]]): DataFrame = {
    val cand = ivfCandidates(spark, dir)
    val candC = cand.join(
      packed.select(col("vec_id").as("neighbor_id"), col("b_code")),
      "neighbor_id")
    val wPre = Window.partitionBy(col("vec_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val pre = candC
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .select(col("vec_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.pq_asymmetric_cosine(
          col("a_ev"), col("b_code"), cbArr, PqS).as("acos"))
      .withColumn("prernk", row_number().over(wPre))
      .filter(col("prernk") <= PqPreK)
      .select(col("vec_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (pre
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev")),
        "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"), col("cosine")))
  }

  val annIvfPqOracle: String =
    s"""WITH $ivfCandCtes,
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |a0q AS (SELECT c.vec_id, c.neighbor_id,
       |               ${sqlCos("a.ev", "d.qv")} AS acos
       |        FROM cand c
       |        JOIN v a ON c.vec_id = a.vec_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |pre AS (SELECT vec_id, neighbor_id FROM (
       |          SELECT vec_id, neighbor_id,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY acos DESC, neighbor_id)
       |                   AS prernk
       |          FROM a0q)
       |        WHERE prernk <= $PqPreK),
       |p AS (SELECT c.vec_id, c.neighbor_id,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM pre c
       |      JOIN v a ON c.vec_id = a.vec_id
       |      JOIN v b ON c.neighbor_id = b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // --- persisted IVF-PQ index (build once, query many) --------------------

  /** Build-once / query-many PERSISTED IVF-PQ index — the production
    * vector-search cadence the in-query forms can't show: training and
    * encoding run ONCE at ingest, then every query session reads the
    * artifact. Layout on disk:
    *   - `centroids.parquet` — the ⌈√n⌉ coarse cells (k·d doubles,
    *     ~8 MB at a billion vectors: always broadcastable);
    *   - `codebook.parquet` — the PQ per-subspace codebooks (≤1 KiB);
    *   - `postings.parquet/centroid_id=…` — one row per vector:
    *     (vec_id, b_code packed 8-byte code word), PARTITIONED BY home
    *     cell, so a query's nprobe cells become a partition-PRUNED read
    *     (nprobe/√n of the index touched, shrinking as n grows —
    *     `PersistedIndexSpec` proves the pruned scan via
    *     `input_file_name`). The index stores 16 B/vector; full-precision
    *     embeddings stay in the SOURCE table and are fetched only for
    *     the top-[[PqPreK]] rerank.
    * Trainers are the production ones: fixed-buffer Lloyd cell sums
    * ([[ivfCentroidsOn]]) and the native scan-side packed-code
    * assignment ([[graft.functions.PqAssign]]) — no unbounded collect
    * anywhere, the shape an actual ingest job runs. Artifacts
    * round-trip through parquet bit-exactly, so querying the persisted
    * index reproduces [[annIvfPqProd]] row for row and the
    * `sim_ann_ivfpq` DuckDB oracle replays it unchanged. */
  def buildIvfPqIndexProd(spark: SparkSession, dir: String,
      indexDir: String): IvfPqHandle =
    buildIvfPqIndexProdOn(spark, Tables.embeddings(spark, dir), indexDir)

  /** [[buildIvfPqIndexProd]] over ANY (vec_id, embedding) frame — lets
    * the incremental cadence train on a BASE corpus and later
    * [[appendToIvfPqIndexProd]] deltas against the frozen artifacts.
    * Returns the read-back [[IvfPqHandle]] so same-call append/query
    * phases reuse the frozen artifacts instead of re-reading them
    * (round 18; callers that ignore the handle behave as before). */
  def buildIvfPqIndexProdOn(spark: SparkSession, raw: DataFrame,
      indexDir: String): IvfPqHandle = {
    import spark.implicits._
    val v = raw.select(col("vec_id"), dvec.as("ev"))
    ivfCentroidsOn(v)
      .write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
    val cbArr = pqCodebookProdOn(v)
    cbArr.zipWithIndex.flatMap { case (codes, m) =>
      codes.zipWithIndex.map { case (cv, code) =>
        (m, code.toLong, cv.toSeq)
      }
    }.toSeq.toDF("m", "code", "cv")
      .coalesce(1) // ≤ PqM·PqK rows — one file, one write task (round 17)
      .write.mode("overwrite").parquet(s"$indexDir/codebook.parquet")
    // ONE encode pass against the FROZEN artifact (round 17): the home
    // assignment reads the just-written centroids back (no second replay
    // of the training subtree) and the scan-side packed code rides the
    // same projection into the max_by argmax — the former separate
    // `packed` frame and its join-back by vec_id are gone. The home
    // frame is persisted across its two consumers (postings write,
    // build-stats row): n × 32 B rows, bounded at any corpus size.
    // Round 18: the read-back is collected once into the handle (the
    // trained cbArr already equals the artifact's round-trip — doubles
    // survive parquet bit-exactly — so only the centroids need a read).
    val centDf = spark.read.parquet(s"$indexDir/centroids.parquet")
    val handle = new IvfPqHandle(spark, centDf.collect(), centDf.schema,
      cbArr)
    val cent = handle.cent
    val pq = graft.functions.VectorFunctions
      .pq_assign(col("embedding"), cbArr, PqS)
    val home = raw
      .select(col("vec_id"), dvec.as("ev"), pq.getField("packed").as("b_code"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("b_code"), col("centroid_id"),
        cosine(col("ev"), col("cv")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("b_code"), col("centroid_id"), col("ccos")),
        struct(col("ccos"), (-col("centroid_id")).as("tb"))).as("h"))
      .select(col("vec_id"), col("h.b_code").as("b_code"),
        col("h.centroid_id").as("centroid_id"), col("h.ccos").as("ccos"))
      .persist()
    try {
      home.select(col("vec_id"), col("b_code"), col("centroid_id"))
        // co-locate each cell in one task before partitionBy: without
        // this every task writes a file per cell it holds (tasks × √n
        // small files — millions at a billion vectors); with it the
        // layout is ONE file per cell (√n files), one build-time shuffle
        // of 24 B rows
        .repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$indexDir/postings.parquet")
      writeBuildStats(spark, home, indexDir)
    } finally home.unpersist()
    resetAppendLog(spark, indexDir)
    handle
  }

  /** Reset the append/delete logs, stats, staging, and tombstones: a
    * fresh build is a new index version (every source vector is re-encoded
    * live, so carrying an old erasure list forward would delete rows the
    * new version legitimately holds). Resolved through the index root's
    * own filesystem ([[graft.sources.IndexFs]]) so a remote `indexDir`
    * resets the REMOTE log, not a same-named local path. */
  private def resetAppendLog(spark: SparkSession, indexDir: String): Unit = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    ifs.deleteRecursive(ifs.child("_stats", "appends.parquet"))
    ifs.deleteRecursive(ifs.child("_append_log"))
    ifs.deleteRecursive(ifs.child("_append_staging"))
    ifs.deleteRecursive(ifs.child("tombstones.parquet"))
    ifs.deleteRecursive(ifs.child("_delete_log"))
    ifs.deleteRecursive(ifs.child(WriterLeaseDirName))
  }

  /** The index's erasure list, when any [[deleteFromIvfPqIndex]] batch
    * has COMMITTED: one `vec_id` per deleted vector. None on an index
    * with no committed deletes — the common case pays only a directory
    * listing. Reads are gated on the `_delete_log` markers, not on the
    * tombstone directory's existence: a crash mid-publish leaves
    * identifiable-but-uncommitted files (or an empty dir) that must
    * neither be honored by queries (uncommitted tombstones silently
    * shrinking answers) nor break them (an empty dir fails parquet
    * schema inference for EVERY query on the index until the delete is
    * retried) — so only the files of committed batches, by exact
    * batch-id match ([[isBatchFileOf]]), are ever read. */
  private def tombstonesOf(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    val committed = ifs.listDir(ifs.child("_delete_log"))
      .map(_.getName).filter(_.startsWith("batch-"))
      .map(_.stripPrefix("batch-"))
    if (committed.isEmpty) return None
    val files = ifs.listFilesRec(ifs.child("tombstones.parquet"))
      .filter(p => committed.exists(id => isBatchFileOf(p.getName, id)))
      .map(_.toString)
    if (files.isEmpty) None
    else Some(spark.read.parquet(files: _*).select(col("vec_id")))
  }

  // --- incremental append (the daily-crawl cadence) -----------------------

  /** Append a DELTA batch of vectors to an existing persisted index
    * WITHOUT retraining — the production cadence of a growing corpus
    * (a 100 TB crawl adds vectors daily; retraining + rewriting the
    * whole index per batch would make the build-once/query-many story
    * build-once-per-corpus-version). Mirrors the `dedup_incremental`
    * shape (delta joined against a persisted history artifact, history
    * never re-paired):
    *   - delta vectors are assigned to the EXISTING centroids (read
    *     from the artifact, broadcast — the quantizer is frozen);
    *   - encoded with the FROZEN codebook (parquet round-trip is
    *     bit-exact, so delta codes match what a monolithic build over
    *     base ∪ delta with the same artifacts would produce);
    *   - postings are PUBLISHED into the matching `centroid_id=`
    *     partitions under the [[committedAppend]] commit-log protocol
    *     (staged write, per-file atomic rename, marker): cells absent
    *     from the delta keep their files byte-identical,
    *     centroids/codebook are never rewritten, and a RETRIED append
    *     — the thing a real pipeline does after any failure — is a
    *     no-op (`PersistedIndexSpec` pins all three, including
    *     recovery from a simulated partial publish).
    * Cost: one delta-sized assignment scan against a broadcast
    * centroid table + one delta-sized 24 B-row shuffle — independent
    * of the accumulated index size. IVF accepts appends naturally
    * (cell membership is per-vector); the standard operational caveat
    * — quantizer drift if the data distribution shifts across many
    * appends — is a retrain policy decision, not an engine limit.
    *
    * This is the exactly-once batch-append entry point — the retry-safe
    * production API (a 100 TB pipeline RETRIES failed jobs; a bare
    * `mode("append")` double-appends postings on retry, duplicating
    * candidate rows and skewing neighbor ranks). Same commit-log
    * contract as the streaming twin
    * ([[graft.streaming.StreamingIndexAppend]]), made atomic against a
    * crash at ANY point:
    *   1. marker `_append_log/batch-<id>` exists → committed → no-op;
    *   2. RECOVERY: delete any `batch-<id>-*` files a previous partial
    *      attempt left in the postings partitions / stats dir (files
    *      are published under batch-tagged names precisely so orphans
    *      are identifiable);
    *   3. stage the batch's postings + stats under
    *      `_append_staging/<id>` (one delta-sized assignment scan
    *      against broadcast centroids + one 24 B-row shuffle — cost
    *      independent of accumulated index size, same as before);
    *   4. PUBLISH: per-file atomic rename into the live
    *      `centroid_id=` partitions as `batch-<id>-k.parquet` (cells
    *      absent from the delta keep their files byte-identical;
    *      centroids/codebook never rewritten), stats row likewise;
    *   5. create the marker, drop staging.
    * A crash before 5 leaves either nothing (recovery is vacuous) or
    * identifiable orphans (recovery deletes them) — the retried append
    * always converges to exactly one copy of the batch. The one
    * sequencing rule: run the retried append (recovery) BEFORE any
    * compaction in the same maintenance cadence — compaction folds
    * whatever files exist into untagged ones; the streaming
    * `foreachBatch` does exactly that ordering.
    *
    * CONCURRENCY CONTRACT (spec-exercised by real parallel writers in
    * `IndexConcurrencySpec`): concurrent appends of DIFFERENT batch ids
    * are in-contract — disjoint staging dirs, disjoint batch-tagged
    * file names, create-once `ord-<seq>` minting, create-once markers.
    * Concurrent deletes, and appends racing deletes, are in-contract
    * for the same reason (disjoint commit logs). The two remaining
    * races are ENFORCED by the per-index writer lease
    * ([[acquireWriterLease]]) — an out-of-contract concurrent writer
    * fails loudly with [[IndexWriterContentionException]] instead of
    * corrupting silently:
    *   - duplicate submissions of the SAME batch id must be sequential
    *     (the retry-after-failure cadence), never simultaneous: a
    *     racing twin's recovery step (2) can delete files its sibling
    *     just published before the marker lands. The create-once
    *     attempt guard admits exactly one in-flight attempt per batch
    *     id; the loser throws, and its sequential retry converges
    *     (usually to the marker's no-op);
    *   - [[compactIvfPqIndex]] must not run concurrently with appends
    *     to the same index (see its scaladoc): its partition overwrite
    *     replaces whole `centroid_id=` directories from a snapshot, so
    *     a batch published mid-compact into a rewritten cell would be
    *     dropped. The sequenced lease totally orders the two verbs and
    *     the later-minted party yields loudly. */
  def appendToIvfPqIndexProd(spark: SparkSession, rawDelta: DataFrame,
      indexDir: String, batchId: String,
      handle: Option[IvfPqHandle] = None): Unit =
    committedAppend(spark, indexDir, batchId,
      deltaPostingsProd(spark, rawDelta, indexDir, handle))

  /** Delta assignment + native scan-side encode against the frozen
    * artifacts: one (vec_id, b_code, centroid_id, ccos) frame — the
    * commit protocol derives the postings projection and the stats row
    * from it (and persists it across the two, round 17). A caller that
    * just built (or loaded) the artifacts passes their [[IvfPqHandle]]
    * so the tiny frozen tables are not re-read per phase (round 18). */
  private def deltaPostingsProd(spark: SparkSession, rawDelta: DataFrame,
      indexDir: String, handle: Option[IvfPqHandle]): DataFrame = {
    val h = handle.getOrElse(loadIvfPqHandle(spark, indexDir))
    val cent = h.cent
    val cbArr = h.cbArr
    val pq = graft.functions.VectorFunctions
      .pq_assign(col("embedding"), cbArr, PqS)
    // one encode pass: the scan-side packed code rides the same
    // projection into the max_by home argmax (same shape as
    // [[buildIvfPqIndexProdOn]] — the former separate `packed` frame
    // and its join-back by vec_id are gone, round 17)
    val home = rawDelta
      .select(col("vec_id"), dvec.as("ev"), pq.getField("packed").as("b_code"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("b_code"), col("centroid_id"),
        cosine(col("ev"), col("cv")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("b_code"), col("centroid_id"), col("ccos")),
        struct(col("ccos"), (-col("centroid_id")).as("tb"))).as("h"))
      .select(col("vec_id"), col("h.b_code").as("b_code"),
        col("h.centroid_id").as("centroid_id"), col("h.ccos").as("ccos"))
    home
  }

  // --- per-index writer serialization (the lease the protocol needs) ------

  /** Loud failure of a writer that lost the per-index serialization —
    * the two races the commit-log protocol documents as out of contract
    * and (since round 14) ENFORCES instead of merely stating: duplicate
    * concurrent submissions of one batch id, and compaction racing an
    * append. The loser mutates nothing; the caller retries SEQUENTIALLY
    * after the winner finishes (or past the horizon if the holder
    * crashed). */
  final class IndexWriterContentionException(msg: String)
    extends RuntimeException(msg)

  private val WriterLeaseDirName = "_writer_leases"

  /** The horizon past which a writer lease is presumed crashed and is
    * reclaimable — the writer-side mirror of [[vacuumIndexVersions]]'s
    * reader-lease horizon. Conf `graft.index.writerLeaseHorizonMs`,
    * default 15 min: a crashed attempt's husk self-heals on the next
    * retry past the horizon, and a writer slower than the horizon is
    * out of contract (size it to the deployment's max writer
    * duration). */
  private def writerLeaseHorizonMs(spark: SparkSession): Long =
    spark.conf.get("graft.index.writerLeaseHorizonMs", "900000").toLong

  /** How long a content-less (torn mid-write) lease or claim read is
    * re-read before being judged — sized to the store's small-PUT tail
    * latency, the same assumption `graft.index.tornClaimGraceMs`
    * prices for streaming routing claims (so one knob tunes both).
    * MUST exceed the store's FS-timestamp granularity (1 s on several
    * object stores): the torn-claim sweep's re-verify keys on modTime
    * — a content-less file has nothing else to stamp — so a grace at
    * or below the quantum lets two torn epochs inside one quantum
    * alias. The default is 2× the coarsest common granularity; raise
    * it for stores with coarser stamps. */
  private def tornGraceMsOf(spark: SparkSession): Long =
    spark.conf.get("graft.index.tornClaimGraceMs", "2000").toLong

  /** Lease-file timestamp: the third `:`-field of the content
    * (`kind:id:millis`), falling back to the FS modification time for
    * a torn or content-less file, then to `now` (never-stale — the
    * safe direction: an unreadable lease is treated as live). */
  private def leaseTsOf(ifs: graft.sources.IndexFs,
      p: org.apache.hadoop.fs.Path, now: Long): Long = {
    val parts = scala.util.Try(ifs.readUtf8(p)).getOrElse("").split(':')
    if (parts.length >= 3) scala.util.Try(parts(2).toLong)
      .getOrElse(scala.util.Try(ifs.modTimeOf(p)).getOrElse(now))
    else scala.util.Try(ifs.modTimeOf(p)).getOrElse(now)
  }

  /** Sweep one crashed attempt-guard husk (`<kind>-<id>` whose stamped
    * ts is `huskTs`, already read as horizon-stale by the caller) —
    * but only through the ts-keyed create-once marker
    * `reclaim-<kind>-<id>-<huskTs>`, so two stragglers can never both
    * delete, and never delete a FRESH guard re-created at the same
    * name (the fresh guard stamps a new ts: its marker name differs
    * AND the post-win re-read refuses a mismatched ts). Returns true
    * when this caller swept (or the husk was already gone), false when
    * it swept a CRASHED reclaimer's stale marker instead (caller
    * retries the whole attempt); throws
    * [[IndexWriterContentionException]] while another reclaimer's
    * marker is live. `private[operators]` so the spec can pin each
    * interleaving directly. */
  private[operators] def reclaimGuardHusk(ifs: graft.sources.IndexFs,
      kind: String, id: String, huskTs: Long, now: Long,
      horizonMs: Long): Boolean = {
    val guard = ifs.child(WriterLeaseDirName, s"$kind-$id")
    val marker = ifs.child(WriterLeaseDirName, s"reclaim-$kind-$id-$huskTs")
    val won =
      try { ifs.createUtf8(marker, s"reclaim:$kind-$id:$now"); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          if (ifs.exists(marker) &&
              now - leaseTsOf(ifs, marker, now) > horizonMs) {
            // the marker holder itself crashed mid-reclaim — sweep its
            // husk and let the caller retry the whole attempt
            ifs.deleteFile(marker); false
          } else throw new IndexWriterContentionException(
            s"$kind '$id' on ${ifs.root}: another reclaimer is " +
              s"sweeping the crashed ${guard.getName} husk " +
              s"(${marker.getName}); retry shortly")
      }
    if (won) {
      // post-win re-verify: delete ONLY the huskTs we claimed. A fresh
      // guard stamps a new ts — refuse and lose to it.
      val curTs = if (ifs.exists(guard)) leaseTsOf(ifs, guard, now) else -1L
      if (curTs == huskTs) ifs.deleteFile(guard)
      ifs.deleteFile(marker)
    }
    won
  }

  /** Acquire the per-index writer lease for one `kind` attempt
    * ("append" / "delete" / "compact"; `id` = the batch id, or "all"
    * for compaction). Two layers, both under `_writer_leases/`:
    *
    *   1. ATTEMPT GUARD `<kind>-<id>`, create-once — exactly one
    *      in-flight attempt per (verb, batch id). A live duplicate
    *      fails loudly ([[IndexWriterContentionException]]): a racing
    *      twin's recovery step can delete files its sibling just
    *      published before the marker lands, so duplicate submissions
    *      must be sequential — now enforced, not prose. (The same
    *      guard under id "all" serializes compactions, whose
    *      `_compact_staging` dir is shared.) A husk older than the
    *      horizon is reclaimed and the create retried — but never by a
    *      blind delete: a straggler that read the husk as stale, then
    *      paused while a faster reclaimer swept it and re-created a
    *      FRESH guard at the same name, would delete the fresh guard
    *      and re-admit the two-winner corruption the guard exists to
    *      prevent. Reclaim therefore goes through a ts-keyed
    *      create-once marker `reclaim-<kind>-<id>-<huskTs>`: only the
    *      marker's winner may delete, and only after RE-READING the
    *      guard and confirming it still carries `huskTs` (a fresh
    *      guard stamps a new ts, so its marker name differs and the
    *      re-read refuses). A crashed reclaimer's marker husk is
    *      itself horizon-reclaimed; a reclaimer pausing longer than
    *      the horizon between steps is out of contract — the same
    *      bound the protocol already places on writers.
    *   2. for appends and compactions — the two verbs whose postings
    *      mutations genuinely conflict — a SEQUENCED lease
    *      `lease-<seq>` minted create-once ([[mintAppendSeq]]'s
    *      arbitration pattern). Minting totally orders the racers, so
    *      of two conflicting writers exactly ONE holds the lower seq
    *      and wins; the higher-seq party removes its lease and fails
    *      loudly. Appends conflict only with live lower compact
    *      leases (append∥append, and everything∥delete, are
    *      in-contract — `IndexConcurrencySpec`); compactions conflict
    *      with live lower append leases. A torn mid-write lease read
    *      is retried briefly, then treated as conflicting — false
    *      positives can only add losers, never a second winner. A
    *      STALE conflicting lease is retired, not just deleted: a
    *      create-once tombstone `retired-<seq>` lands BEFORE the
    *      delete, and a minter whose fresh create collides with a
    *      retired seq self-invalidates and moves up — so a seq number,
    *      once retired, is never validly held again, and a straggler's
    *      delete of a re-minted lease at a reused seq (the two-winner
    *      TOCTOU mirror of the guard's) is structurally impossible.
    *
    * Returns the lease files to delete on release (always in a
    * `finally`). `private[operators]` so `IndexConcurrencySpec` can
    * pin the reclaim interleavings directly. */
  private[operators] def acquireWriterLease(ifs: graft.sources.IndexFs,
      kind: String, id: String, horizonMs: Long,
      tornGraceMs: Long = 2000L)
      : Vector[org.apache.hadoop.fs.Path] = {
    val dir = ifs.child(WriterLeaseDirName)
    ifs.mkdirs(dir)
    val now = System.currentTimeMillis()
    def tsOf(p: org.apache.hadoop.fs.Path): Long = leaseTsOf(ifs, p, now)
    def staleAt(p: org.apache.hadoop.fs.Path): Boolean =
      now - tsOf(p) > horizonMs
    // Horizon-GC of arbitration debris (round 15). Two marker families
    // are create-once files whose defensive value ends at the horizon:
    //   - `retired-<seq>` tombstones: they exist so a straggler's
    //     pending delete of a re-minted lease at a reused seq can never
    //     land — but a straggler paused past the horizon is out of
    //     contract, so a tombstone older than the horizon defends
    //     nothing. Un-GC'd they accumulate forever across crash
    //     reclaims (the seq counter restarts at 0 once all leases
    //     release) and every future mint pays create-then-delete churn
    //     skipping each poisoned seq.
    //   - orphaned `reclaim-*` markers: a reclaimer crashing between
    //     its guard delete and marker delete leaks the marker
    //     permanently — the in-path sweep only re-derives that marker
    //     name from a guard that no longer exists.
    // Both are swept here, in the scan every acquire already pays; the
    // deletes are idempotent, so concurrent sweepers are harmless.
    ifs.listDir(dir).foreach { p =>
      val n = p.getName
      if ((n.startsWith("retired-") || n.startsWith("reclaim-")) &&
          now - tsOf(p) > horizonMs)
        ifs.deleteFile(p)
    }
    // 1. the attempt guard
    val guard = ifs.child(WriterLeaseDirName, s"$kind-$id")
    var held = false
    var attempts = 0
    // 4 attempts: the worst in-contract chain is (stale-marker sweep,
    // husk reclaim, create) = 3, plus one for a lost create race
    while (!held && attempts < 4) {
      attempts += 1
      try { ifs.createUtf8(guard, s"$kind:$id:$now"); held = true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          val huskTs = if (ifs.exists(guard)) tsOf(guard) else -1L
          if (huskTs >= 0 && now - huskTs > horizonMs) {
            // stale husk: reclaim through the ts-keyed create-once
            // marker (scaladoc above). A blind delete here could land
            // on a FRESH guard re-created at the same name by a faster
            // reclaimer while this thread was paused between its
            // staleness read and the delete.
            reclaimGuardHusk(ifs, kind, id, huskTs, now, horizonMs)
          } else throw new IndexWriterContentionException(
            s"concurrent duplicate $kind '$id' on ${ifs.root}: another " +
              s"attempt holds ${guard.getName} — submissions of one " +
              "batch must be sequential; retry after the holder " +
              "finishes (a crashed holder reclaims past " +
              "graft.index.writerLeaseHorizonMs)")
      }
    }
    if (!held) throw new IndexWriterContentionException(
      s"could not claim ${guard.getName} on ${ifs.root} after " +
        s"$attempts attempts")
    if (kind == "delete") return Vector(guard)
    // 2. the sequenced append/compact lease
    def seqLeases(): Vector[(Long, org.apache.hadoop.fs.Path)] =
      ifs.listDir(dir).flatMap { p =>
        val n = p.getName
        if (n.startsWith("lease-"))
          scala.util.Try(n.drop(6).toLong).toOption.map(_ -> p)
        else None
      }.sortBy(_._1)
    def retiredMarker(seq: Long): org.apache.hadoop.fs.Path =
      ifs.child(WriterLeaseDirName, f"retired-$seq%012d")
    var next = seqLeases().lastOption.map(_._1 + 1).getOrElse(0L)
    var mine: org.apache.hadoop.fs.Path = null
    var mySeq = -1L
    var tries = 0
    while (mine == null && tries < 10000) {
      tries += 1
      val cand = ifs.child(WriterLeaseDirName, f"lease-$next%012d")
      try {
        ifs.createUtf8(cand, s"$kind:$id:$now")
        // a retired seq is never validly held again: if a stale lease
        // at this seq was tombstoned (retire-before-delete in the
        // conflict scan), a fresh mint here would hand a straggler's
        // pending delete of "lease-<seq>" a NEW victim — self-
        // invalidate and move up instead. The check runs AFTER the
        // create (check-then-create would race the retirement).
        if (ifs.exists(retiredMarker(next))) {
          ifs.deleteFile(cand); next += 1
        } else { mine = cand; mySeq = next }
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException => next += 1
      }
    }
    if (mine == null) {
      ifs.deleteFile(guard)
      throw new IndexWriterContentionException(
        s"could not mint a writer lease on ${ifs.root} after $tries " +
          "attempts")
    }
    // kind of a live lower lease; null = released mid-scan. A lease
    // whose content has not landed yet gets a grace of re-reads, then
    // counts as conflicting (the safe direction: the LOWEST live
    // conflicting seq never scans upward, so a misread can only make
    // this higher-seq party yield — one winner always survives).
    def liveKindOf(p: org.apache.hadoop.fs.Path): String = {
      val deadline = System.nanoTime() + tornGraceMs * 1000000L
      while (true) {
        if (!ifs.exists(p)) return null
        val c = scala.util.Try(ifs.readUtf8(p)).getOrElse("")
        if (c.contains(":")) return c.takeWhile(_ != ':')
        if (System.nanoTime() >= deadline) return "compact"
        Thread.sleep(20L)
      }
      "compact"
    }
    val conflicts = seqLeases().filter(_._1 < mySeq).flatMap { case (_, p) =>
      Option(liveKindOf(p)).flatMap { k =>
        val clash =
          if (kind == "append") k == "compact"
          else k == "append" || k == "compact"
        if (!clash) None
        else if (staleAt(p)) {
          // crashed writer: RETIRE before deleting — the tombstone
          // permanently invalidates this seq (see mint loop), so the
          // delete below can never be the straggler-kills-fresh-mint
          // TOCTOU. Losing the tombstone race to another scanner is
          // fine; the delete is idempotent.
          val seq = scala.util.Try(p.getName.drop(6).toLong).toOption
          seq.foreach { s =>
            try ifs.createUtf8(retiredMarker(s), s"retired:${p.getName}:$now")
            catch {
              case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                   _: org.apache.hadoop.fs.PathExistsException => ()
            }
          }
          ifs.deleteFile(p); None
        }
        else Some(s"${p.getName}=$k")
      }
    }
    if (conflicts.nonEmpty) {
      ifs.deleteFile(mine)
      ifs.deleteFile(guard)
      throw new IndexWriterContentionException(
        s"$kind '$id' lost the writer lease on ${ifs.root} to " +
          s"${conflicts.mkString(", ")}: compaction and appends to one " +
          "index must serialize — retry after the holder finishes")
    }
    Vector(guard, mine)
  }

  private def releaseWriterLease(ifs: graft.sources.IndexFs,
      lease: Vector[org.apache.hadoop.fs.Path]): Unit =
    lease.foreach(ifs.deleteFile)

  private def committedAppend(spark: SparkSession, indexDir: String,
      batchId: String, enc: => DataFrame): Unit = {
    require(batchId.nonEmpty && batchId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batch id must be filesystem-safe: '$batchId'")
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    val log = ifs.child("_append_log")
    ifs.mkdirs(log)
    val marker = ifs.child("_append_log", s"batch-$batchId")
    if (ifs.exists(marker)) return
    val lease = acquireWriterLease(ifs, "append", batchId,
      writerLeaseHorizonMs(spark), tornGraceMsOf(spark))
    try {
      committedAppendHeld(spark, ifs, marker, batchId, enc)
    } finally releaseWriterLease(ifs, lease)
  }

  /** [[committedAppend]]'s body, run under the writer lease. */
  private def committedAppendHeld(spark: SparkSession,
      ifs: graft.sources.IndexFs, marker: org.apache.hadoop.fs.Path,
      batchId: String, enc: => DataFrame): Unit = {
    // a sequential retry that lost the guard earlier may find the
    // winner's marker by the time its own lease lands
    if (ifs.exists(marker)) return
    dropBatchFiles(ifs, batchId)
    // attempt-scoped staging (an attempt SUBDIR under the batch's own
    // staging dir — exact directory names, no prefix matching: batch
    // `b`'s sweep must never touch batch `b-1`'s staging, the same
    // ambiguity class isBatchFileOf closed for commit-log files): a
    // crashed attempt's husk can never be half-reused or deleted
    // mid-write by another attempt; the batch's whole staging dir is
    // swept after the marker lands
    val batchStaging = ifs.child("_append_staging", batchId)
    val staging = new org.apache.hadoop.fs.Path(batchStaging,
      java.util.UUID.randomUUID().toString.take(8))
    ifs.deleteRecursive(staging)
    // the encode frame (vec_id, b_code, centroid_id, ccos) feeds BOTH
    // the staging postings write and the stats row — persisted so the
    // delta is encoded once, not once per consumer (round 17; bounded
    // by batch size, unpersisted before return)
    val home = enc
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    home.select(col("vec_id"), col("b_code"), col("centroid_id"))
      // one file per touched cell per batch (same rationale as the build)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(new org.apache.hadoop.fs.Path(staging, "postings").toString)
    // the stats row carries identity + order: batch_id names the batch,
    // seq is MINTED via a create-once `ord-<seq>` pointer (content =
    // the batch id) so two concurrent appends to one index can never
    // share a seq — the loser of the create race retries at seq+1,
    // and a RETRIED append finds its own pointer and reuses the seq it
    // already minted. Trend ordering for the drift report therefore
    // leans neither on parquet read order nor on a single-writer
    // assumption.
    val seq = mintAppendSeq(ifs, batchId)
    home.agg(count(lit(1)).as("n_vectors"), avg(col("ccos")).as("mean_cos"))
      .select(lit(batchId).as("batch_id"), lit(seq.toLong).as("seq"),
        col("n_vectors"), col("mean_cos"))
      .coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(staging, "stats").toString)
    publishBatch(ifs, staging, batchId)
    ifs.touch(marker)
    // sweep this batch's staging dir (all attempts' husks) now that
    // the batch is committed — exact directory name, never a prefix
    ifs.deleteRecursive(batchStaging)
    } finally home.unpersist()
  }

  /** Mint this batch's drift-report sequence number: the smallest free
    * seq claimed by CREATE-ONCE of `_append_log/ord-<seq>` (content =
    * the batch id — [[publishIndexVersion]]'s pointer pattern). A
    * retried append finds the pointer it already owns and reuses its
    * seq; a concurrent append that loses the create race sees the
    * failure and claims the next seq instead of silently minting a
    * duplicate. Pre-pointer artifacts (old indexes carry only `batch-*`
    * markers) start at their committed-marker count, which is exactly
    * the seq the old derivation would have produced. */
  private def mintAppendSeq(ifs: graft.sources.IndexFs,
      batchId: String): Long = {
    val log = ifs.child("_append_log")
    def ordPointers(): Vector[(Long, org.apache.hadoop.fs.Path)] =
      ifs.listDir(log).flatMap { p =>
        val n = p.getName
        if (n.startsWith("ord-"))
          scala.util.Try(n.drop(4).toLong).toOption.map(_ -> p)
        else None
      }.sortBy(_._1)
    def ownSeq(ptrs: Vector[(Long, org.apache.hadoop.fs.Path)]): Option[Long] =
      ptrs.find { case (_, p) => ifs.readUtf8(p) == batchId }.map(_._1)
    val existing = ordPointers()
    ownSeq(existing) match {
      case Some(seq) => seq
      case None =>
        val markers = ifs.listDir(log).count(_.getName.startsWith("batch-"))
        var next = math.max(markers.toLong,
          existing.lastOption.map(_._1 + 1).getOrElse(0L))
        var attempts = 0
        while (attempts < 10000) {
          try {
            ifs.createUtf8(ifs.child("_append_log", f"ord-$next%012d"),
              batchId)
            return next
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: org.apache.hadoop.fs.PathExistsException =>
              // Lost a create race. The winner may be another attempt of
              // THIS batch (two racing retries of one append) — re-scan
              // the log for a pointer carrying our own batch id before
              // claiming a fresh seq, else the same batch ends up owning
              // two ord pointers and its stats row's seq depends on
              // which attempt reaches the commit marker first.
              val ptrs = ordPointers()
              ownSeq(ptrs) match {
                case Some(seq) => return seq
                case None =>
                  next = math.max(next + 1,
                    ptrs.lastOption.map(_._1 + 1).getOrElse(next + 1))
                  attempts += 1
              }
          }
        }
        sys.error(s"could not mint an append seq under $log " +
          s"after $attempts attempts")
    }
  }

  /** Per-file atomic rename of a staged batch into the live artifact
    * under batch-tagged names (`batch-<id>-k.parquet`) — the names are
    * the recovery manifest. Parquet readers ignore file names (partition
    * identity is the `centroid_id=` directory), so tagged files read
    * exactly like the build's `part-*` files. */
  private def publishBatch(ifs: graft.sources.IndexFs,
      staging: org.apache.hadoop.fs.Path, batchId: String): Unit = {
    import org.apache.hadoop.fs.Path
    def parquetFiles(root: Path): Vector[Path] =
      ifs.listFilesRec(root).filter(_.getName.endsWith(".parquet"))
    val live = ifs.child("postings.parquet")
    parquetFiles(new Path(staging, "postings")).zipWithIndex.foreach {
      case (p, i) =>
        // the `centroid_id=NN` dir is the partition identity — preserve it
        val cellDir = new Path(live, p.getParent.getName)
        ifs.move(p, new Path(cellDir, s"batch-$batchId-$i.parquet"))
    }
    val statsLive = ifs.child("_stats", "appends.parquet")
    parquetFiles(new Path(staging, "stats")).zipWithIndex.foreach {
      case (p, i) =>
        ifs.move(p, new Path(statsLive, s"batch-$batchId-$i.parquet"))
    }
  }

  /** Is `name` a published file of exactly `batchId`? Published names
    * are `batch-<id>-<k>.parquet` with k a file index — but '-' is
    * legal INSIDE batch ids, so a bare prefix match would let batch
    * "takedown-2026-08" claim (and recovery-delete) the committed
    * files of batch "takedown-2026-08-15". Anchoring on the trailing
    * `-<digits>.parquet` makes the id comparison exact: the remainder
    * after `batch-<id>-` must be nothing but the file index. */
  private[graft] def isBatchFileOf(name: String, batchId: String): Boolean = {
    val prefix = s"batch-$batchId-"
    name.startsWith(prefix) &&
      name.stripPrefix(prefix).matches("""\d+\.parquet""")
  }

  /** Delete every published file of `batchId` (exact-id anchored —
    * see [[isBatchFileOf]]). */
  private def dropBatchFiles(ifs: graft.sources.IndexFs,
      batchId: String): Unit =
    Seq(ifs.child("postings.parquet"),
        ifs.child("_stats", "appends.parquet")).foreach { root =>
      ifs.listFilesRec(root)
        .filter(p => isBatchFileOf(p.getName, batchId))
        .foreach(ifs.deleteFile)
    }

  /** Un-commit a batch entirely — files + marker (the bench harness's
    * reset between timed append iterations; NOT a production API: a
    * real pipeline never un-commits, it retrains). */
  private[graft] def dropCommittedBatch(spark: SparkSession, indexDir: String,
      batchId: String): Unit = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    dropBatchFiles(ifs, batchId)
    ifs.deleteFile(ifs.child("_append_log", s"batch-$batchId"))
  }

  /** DELETE vectors from a persisted index — the lifecycle's erasure
    * verb (a 100 TB corpus receives takedown and privacy-erasure
    * requests on a cadence, and re-ingesting a billion-vector index per
    * request is not an answer). Tombstone design, the same trade every
    * LSM store makes:
    *   - the delete WRITES only an id list (`tombstones.parquet`,
    *     8 B/row) — no postings partition is touched, so the operation
    *     costs O(|ids|) regardless of index size;
    *   - queries/searches subtract tombstones at the postings read (a
    *     broadcast anti-join — dead rows never reach the candidate
    *     exchange) and deleted ids stop querying in the self-join form;
    *   - [[compactIvfPqIndex]] PHYSICALLY drops tombstoned rows from
    *     every cell it rewrites (the actual byte erasure, riding the
    *     maintenance cadence it already runs; `maxFilesPerCell = 0`
    *     forces a full purge pass when an erasure deadline demands it).
    *     The tombstone list itself stays authoritative — a tombstone
    *     for an already-purged row anti-joins nothing.
    * Same commit-log idempotency contract as the append (marker under
    * `_delete_log/`, staged write, batch-tagged publish renames,
    * orphan recovery): a RETRIED delete batch is a no-op, and a crash
    * at any point of the publish converges on retry.
    * `PersistedIndexSpec` pins exclusion, idempotency, physical purge,
    * and query invariance across the purge. */
  def deleteFromIvfPqIndex(spark: SparkSession, ids: DataFrame,
      indexDir: String, batchId: String): Unit =
    deleteFromIndex(spark, ids, indexDir, batchId)

  /** [[deleteFromIvfPqIndex]] for the persisted LSH artifact — the
    * erasure verb is index-family-agnostic (it writes only the id list
    * + commit marker; which reads consult it is the family's query
    * path): tombstoned vectors leave [[annLshIndexed]] /
    * [[searchLshIndex]] answers immediately. PHYSICAL purge differs by
    * family: the IVF-PQ artifact purges via [[compactIvfPqIndex]];
    * the LSH artifact is rebuild-per-corpus-version by design (Spark
    * bucketed-table files encode bucket ids in their names, so the
    * rename-based rewrite doesn't transfer) — a rebuild from the
    * thinned source IS the purge, and [[buildLshIndexProd]] resets the
    * tombstone list because the new artifact re-encodes live rows. */
  def deleteFromLshIndex(spark: SparkSession, ids: DataFrame,
      tableName: String, batchId: String,
      indexDirHint: Option[String] = None): Unit =
    deleteFromIndex(spark, ids,
      indexDirHint.getOrElse(lshIndexDirOf(spark, tableName)), batchId)

  private def deleteFromIndex(spark: SparkSession, ids: DataFrame,
      indexDir: String, batchId: String): Unit = {
    require(batchId.nonEmpty && batchId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"batch id must be filesystem-safe: '$batchId'")
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    ifs.mkdirs(ifs.child("_delete_log"))
    val marker = ifs.child("_delete_log", s"batch-$batchId")
    if (ifs.exists(marker)) return
    // same duplicate-submission enforcement as the append (the
    // recovery sweep below is exactly as destructive): one in-flight
    // attempt per batch id, the loser fails loudly. Deletes take no
    // sequenced lease — delete∥append, delete∥delete, and
    // delete∥compact are all in-contract (disjoint commit logs; the
    // tombstone list stays authoritative across a compaction pass).
    val lease = acquireWriterLease(ifs, "delete", batchId,
      writerLeaseHorizonMs(spark), tornGraceMsOf(spark))
    try {
      if (ifs.exists(marker)) return
      // recovery: drop any tombstone files a crashed attempt published
      // (exact-id anchored — a retried batch must never claim another
      // batch's committed tombstones, see [[isBatchFileOf]])
      ifs.listFilesRec(ifs.child("tombstones.parquet"))
        .filter(p => isBatchFileOf(p.getName, batchId))
        .foreach(ifs.deleteFile)
      val staging = ifs.child("_append_staging", s"del-$batchId")
      ifs.deleteRecursive(staging)
      try {
        ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
          .coalesce(1).write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(staging, "tomb").toString)
        val live = ifs.child("tombstones.parquet")
        ifs.mkdirs(live)
        ifs.listFilesRec(new org.apache.hadoop.fs.Path(staging, "tomb"))
          .filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (p, i) =>
            ifs.move(p, new org.apache.hadoop.fs.Path(live,
              s"batch-$batchId-$i.parquet"))
          }
        ifs.touch(marker)
      } finally ifs.deleteRecursive(staging)
    } finally releaseWriterLease(ifs, lease)
  }

  // --- versioned alias rotation (how a retrain DEPLOYS) -------------------

  /** The drift report answers "is a retrain due?"; these three calls are
    * how the retrain SHIPS without stopping the service — the blue-green
    * rotation every deployed index runs:
    *   1. build the new version into its own directory under the alias
    *      root (`aliasDir/<version>/` — a complete, self-contained
    *      artifact; queries against the LIVE version are untouched);
    *   2. [[publishIndexVersion]] — one atomic create-once pointer file
    *      (`_alias/ptr-<seq>`, content = the version name) flips every
    *      FUTURE [[resolveIndexAlias]] to the new version; readers
    *      mid-query keep the version directory they already resolved
    *      (its files are immutable), so there is no torn read;
    *   3. [[vacuumIndexVersions]] — after a grace period, drop the
    *      directories of versions no longer among the `keepVersions`
    *      most recently published (default 2: current + one fallback,
    *      which is also the instant-rollback lever — re-publish the
    *      previous name).
    * Resolution reads the HIGHEST pointer sequence: publish is a single
    * create (atomic on any store with create-if-absent), never a
    * read-modify-write of a shared file. Single-writer per alias by
    * contract (same as the append log); a concurrent publisher loses
    * the create race loudly instead of clobbering. */
  /** A version directory is a COMPLETE publishable artifact when its
    * family's root file exists: `centroids.parquet` (the IVF-PQ
    * lifecycle artifact) or `meta.parquet` (the LSH bucket-join
    * artifact — deployable behind an alias since round 16's advised
    * re-family rebuilds). The file is the last thing each builder
    * commits, so existence means the build finished. */
  private def indexArtifactComplete(ifs: graft.sources.IndexFs,
      versionName: String): Boolean =
    ifs.exists(ifs.child(versionName, "centroids.parquet")) ||
      ifs.exists(ifs.child(versionName, "meta.parquet"))

  /** Which family a version directory holds — the dispatch key for
    * [[searchIndexAlias]] and the deployment answer
    * [[maintainIndexAlias]] reports. */
  def indexFamilyOf(spark: SparkSession, versionDir: String): String = {
    val ifs = graft.sources.IndexFs.on(spark, versionDir)
    if (ifs.exists(ifs.child("centroids.parquet"))) "ivf-pq-index"
    else if (ifs.exists(ifs.child("meta.parquet"))) "lsh-index"
    else sys.error(s"$versionDir holds no recognizable index artifact")
  }

  def publishIndexVersion(spark: SparkSession, aliasDir: String,
      versionName: String): Unit = {
    require(versionName.nonEmpty && versionName.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"version name must be filesystem-safe: '$versionName'")
    // vacuum's crash-reclaim markers live in the same `_alias/_condemned/`
    // namespace as the per-version condemned markers ("reclaim-<v>-<ts>");
    // a version literally named like one would alias a reclaim epoch and
    // confuse the sweep, so the prefix is reserved at the publish gate
    require(!versionName.startsWith("reclaim-"),
      s"version name must not start with the reserved 'reclaim-' prefix " +
        s"(vacuum's _condemned/ reclaim markers): '$versionName'")
    val ifs = graft.sources.IndexFs.on(spark, aliasDir)
    require(indexArtifactComplete(ifs, versionName),
      s"$aliasDir/$versionName is not a complete index artifact")
    val seq = aliasPtrs(ifs).lastOption.map(_._1 + 1).getOrElse(0L)
    ifs.createUtf8(ifs.child("_alias", f"ptr-$seq%012d"), versionName)
  }

  /** The alias's current version directory — pass the result as
    * `indexDir` to [[annIvfPqIndexed]] / [[searchIvfPqIndex]].
    *
    * A publish is create-pointer THEN write-content, so a reader racing
    * a rotation can observe the newest pointer with its content not yet
    * landed (or torn). A pointer only counts as PUBLISHED once its
    * content names a complete version artifact; until then resolution
    * falls back to the previous pointer — the old version stays live
    * through the flip, which is exactly blue-green semantics
    * (`IndexConcurrencySpec` races a routed append against a rotation
    * through this path). */
  def resolveIndexAlias(spark: SparkSession, aliasDir: String): String = {
    val ifs = graft.sources.IndexFs.on(spark, aliasDir)
    val ptrs = aliasPtrs(ifs)
    require(ptrs.nonEmpty, s"no published version under $aliasDir")
    val published = ptrs.reverseIterator.flatMap { case (_, p) =>
      val c = scala.util.Try(ifs.readUtf8(p)).getOrElse("")
      if (c.nonEmpty && !c.contains("/") && indexArtifactComplete(ifs, c))
        Some(c)
      else None
    }.nextOption()
    require(published.nonEmpty,
      s"no pointer under $aliasDir names a complete published version " +
        "(a publish may be in flight — retry)")
    s"$aliasDir/${published.get}"
  }

  /** The drift → retrain → deploy loop, CLOSED: the decision the drift
    * dashboard ([[indexDriftReport]]) exists to inform, made executable.
    * Reads the CURRENT alias version's newest committed append row; if
    * its drift fell below `-threshold` (the quantizer no longer fits
    * the arriving data), rebuilds a fresh version from `corpus` into
    * `aliasDir/<versionName>` with the production trainers and
    * publishes it — one create-once pointer flip, in-flight readers of
    * the old version unaffected (its files are immutable until
    * [[vacuumIndexVersions]]). Returns the shipped version name, or
    * None when drift is within tolerance (or the version has no appends
    * yet — day-0 and freshly-rotated indexes never retrain). `corpus`
    * is the caller's current full corpus (base + accumulated deltas):
    * the maintenance cadence owns what "the corpus" means — typically
    * the same table the appends were read from. Idempotent at the
    * deployment level: a retried call after a crash between build and
    * publish re-runs the build into the same version dir (overwrite)
    * and publishes; after a successful publish the new version's empty
    * drift report makes the retry a no-op. */
  def retrainIfDrifted(spark: SparkSession, aliasDir: String,
      corpus: DataFrame, threshold: Double,
      versionName: String): Option[String] = {
    require(threshold > 0, "threshold must be a positive drift magnitude")
    val current = resolveIndexAlias(spark, aliasDir)
    val latest = indexDriftReport(spark, current)
      .orderBy(col("seq").desc).limit(1)
      .select(col("drift")).collect()
    if (latest.isEmpty || latest(0).getDouble(0) >= -threshold) None
    else {
      buildIvfPqIndexProdOn(spark, corpus, s"$aliasDir/$versionName")
      publishIndexVersion(spark, aliasDir, versionName)
      Some(versionName)
    }
  }

  /** Deterministic postings-table name for an alias-deployed LSH
    * version — derivable from (aliasDir, versionName) alone, so every
    * session derives the same name. The name alone does NOT make the
    * table readable in a LATER session (saveAsTable registers it in the
    * build session's in-memory catalog only — there is no persistent
    * metastore here); [[lshTableOfVersion]] closes that gap by
    * re-registering the bucketed table from the on-disk artifact on a
    * catalog miss. */
  private def lshAliasTable(aliasDir: String, versionName: String): String =
    s"graft_lshidx_alias_" +
      s"${java.lang.Integer.toHexString(aliasDir.hashCode)}_" +
      versionName.map(c => if (c.isLetterOrDigit) c else '_')

  /** The postings TABLE an LSH version dir serves from, re-registered
    * in THIS session's catalog when absent: the build stamps the table
    * name into `meta.parquet`, but `saveAsTable` registration lives in
    * the build session's in-memory catalog — a new JVM resolving an
    * LSH-live alias would otherwise fail with table-not-found. On a
    * catalog miss the bucketed table is recreated over the version's
    * own `postings` location with the build-stamped bucket spec
    * (CLUSTERED BY (bucket) INTO num_buckets — the reads stay
    * exchange-free exactly as in the build session); the schema comes
    * off the parquet footer so a rank-stamped artifact re-registers
    * `bucket_rank` too. Artifacts from before the num_buckets stamp
    * fail loudly with the rebuild remedy rather than serving an
    * unbucketed (silently shuffling) scan. Two readers racing the
    * CREATE: the loser adopts the winner's identical registration. */
  private def lshTableOfVersion(spark: SparkSession,
      versionDir: String): String = {
    val meta = spark.read.parquet(s"$versionDir/meta.parquet")
    require(meta.columns.contains("table_name"),
      s"$versionDir predates the table-name stamp — rebuild the version")
    val row = meta.head()
    val name = row.getAs[String]("table_name")
    if (!spark.catalog.tableExists(name)) {
      require(meta.columns.contains("num_buckets"),
        s"LSH postings table '$name' is not in this session's catalog " +
          s"and $versionDir predates the num_buckets stamp, so the " +
          "bucket spec cannot be recovered — rebuild the version " +
          "(buildLshIndexProd) to serve it cross-session")
      val nb = row.getAs[Int]("num_buckets")
      val postings = s"$versionDir/postings"
      val ddl = spark.read.parquet(postings).schema.toDDL
      try
        spark.sql(s"CREATE TABLE $name ($ddl) USING parquet " +
          s"CLUSTERED BY (bucket) SORTED BY (bucket) INTO $nb BUCKETS " +
          s"LOCATION '$postings'")
      catch {
        case _: org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException => ()
      }
    }
    name
  }

  /** [[retrainIfDrifted]]'s advised sibling (round 16): the maintenance
    * cadence asks [[IndexAdvisor.adviseLiveIndex]] what the LIVE
    * version's own measurements say, then EXECUTES the verdict instead
    * of hard-coding "rebuild the same family on raw drift":
    *
    *   - `stay` → None (nothing rebuilt);
    *   - `retrain` → fresh IVF-PQ quantizer from `dir`'s embeddings
    *     into `aliasDir/<versionName>`, published — the
    *     [[retrainIfDrifted]] action, now taken on the advisor's
    *     drift reading;
    *   - `refamily` → the rebuild routes to the RECOMMENDED family:
    *     the measured frontier says this corpus/workload operating
    *     point belongs to the other artifact, so rebuilding the same
    *     family would re-deploy the wrong index at a retrain's full
    *     cost. An LSH verdict builds [[buildLshIndexProd]] into the
    *     SAME alias (postings table named deterministically from
    *     (aliasDir, version)); the pointer flip is the identical
    *     create-once publish either way, so readers of
    *     [[searchIndexAlias]] migrate families without a URL change.
    *
    * Returns (shipped version, family), or None when the advice is
    * stay — or when the live version carries no `_stats/build.parquet`
    * (a pre-stats deployment or a foreign artifact: nothing measured
    * to advise from, the verb stays idempotently quiet) — or when a
    * `refamily` verdict AWAY from the IVF-PQ family is DEFERRED because
    * the alias shows a recent `_ingest_log` routing claim: a streaming
    * ingest is (or was moments ago) attached, and the LSH family has no
    * append protocol, so executing the verdict would route the very
    * next micro-batch into an append-less artifact. The deferral window
    * is `graft.index.refamilyIngestQuietMs` (default 1 h) since the
    * newest claim; the verdict re-fires on the next maintenance pass
    * once the ingest has been quiet that long. (The append side holds
    * the same line from its end: [[graft.streaming.StreamingIndexAppend
    * .appendBatchAliased]] family-checks its routed version and fails
    * with a remedy rather than appending into LSH.)
    *
    * The way BACK (round 17): a deployed LSH version is no longer
    * advice-blind — the re-family build stamps the corpus measurement
    * its verdict was made on into the LSH version's own
    * `_stats/build.parquet` ([[writeLshArtifactMeta]]), so
    * [[IndexAdvisor.adviseLiveIndex]] re-runs the frontier routing on
    * the LIVE family each pass and a workload or corpus shift that
    * routes to IVF-PQ ships an IVF-PQ version behind the same alias.
    * `IndexRefamilySpec` replays both directions end to end. */
  def maintainIndexAlias(spark: SparkSession, aliasDir: String,
      dir: String, workload: AnnWorkload, versionName: String,
      driftRetrainThreshold: Double = 0.05,
      frontierDir: String = "frontier"): Option[(String, String)] = {
    val current = resolveIndexAlias(spark, aliasDir)
    val currentFamily = indexFamilyOf(spark, current)
    val cifs = graft.sources.IndexFs.on(spark, current)
    if (!cifs.exists(cifs.child("_stats", "build.parquet"))) None
    else {
      val advice = IndexAdvisor.adviseLiveIndex(spark, current, workload,
        driftRetrainThreshold, frontierDir)
      val target = advice.recommendation.family
      advice.action match {
        case "stay" => None
        case "refamily" if currentFamily == "ivf-pq-index" &&
            target != "ivf-pq-index" &&
            recentIngestClaims(spark, aliasDir) =>
          None // deferred: see scaladoc — re-fires once ingest is quiet
        case other =>
          if (other == "refamily" && target == "lsh-index")
            // carry the measured concentration forward: it is a CORPUS
            // property (the IVF-PQ artifact is merely where it was
            // measured), and stamping it keeps the new LSH version
            // advisable — the way back
            buildLshIndexProd(spark, dir, s"$aliasDir/$versionName",
              lshAliasTable(aliasDir, versionName),
              concentration = advice.measuredConcentration)
          else
            buildIvfPqIndexProdOn(spark, Tables.embeddings(spark, dir),
              s"$aliasDir/$versionName")
          publishIndexVersion(spark, aliasDir, versionName)
          Some((versionName,
            if (other == "refamily") target else "ivf-pq-index"))
      }
    }
  }

  /** Does the alias's ingest log show a routing claim newer than the
    * quiet window? A claim is the first durable step of every
    * [[graft.streaming.StreamingIndexAppend.appendBatchAliased]]
    * micro-batch, so its modTime is an honest "a stream is attached"
    * signal without any registration protocol. */
  private def recentIngestClaims(spark: SparkSession,
      aliasDir: String): Boolean = {
    val ifs = graft.sources.IndexFs.on(spark, aliasDir)
    val quietMs = spark.conf
      .get("graft.index.refamilyIngestQuietMs", "3600000").toLong
    val log = ifs.child("_alias", "_ingest_log")
    ifs.listDir(log).exists { p =>
      p.getName.startsWith("batch-") &&
        scala.util.Try(ifs.modTimeOf(p)).toOption
          .exists(System.currentTimeMillis() - _ <= quietMs)
    }
  }

  /** Search through an alias, whichever family its live version holds —
    * the reader-side completion of the advised re-family: resolve the
    * pointer, detect the family, dispatch to [[searchIvfPqIndex]] or
    * [[searchLshIndex]] (the LSH postings table re-registered from the
    * on-disk artifact when this session's catalog doesn't hold it —
    * [[lshTableOfVersion]], so a reader in a LATER JVM than the build
    * serves identically). Same (query_id, neighbor_id, rnk, cosine)
    * contract from either path. */
  def searchIndexAlias(spark: SparkSession, queries: DataFrame,
      dir: String, aliasDir: String): DataFrame = {
    val current = resolveIndexAlias(spark, aliasDir)
    indexFamilyOf(spark, current) match {
      case "ivf-pq-index" => searchIvfPqIndex(spark, queries, dir, current)
      case _ =>
        searchLshIndex(spark, queries, dir, lshTableOfVersion(spark, current))
    }
  }

  /** FILTERED search through an alias — [[searchIndexAlias]]'s twin for
    * the `WHERE lang = 'de' AND <ann>` call shape: dispatches to
    * [[searchIvfPqIndexFiltered]] / [[searchLshIndexFiltered]] by the
    * live version's family, each under its own selectivity-scaled
    * compensation dial ([[AutoProbes]] / [[AutoRadius]] defaults).
    * Filtered workloads are exactly the dimension the re-family verdict
    * weighs (the clustered×filtered frontier quadrant), so they must
    * migrate families with the alias rather than hard-coding one.
    * Row-equal to the direct family calls on both families
    * (`IndexRefamilySpec`). */
  def searchIndexAliasFiltered(spark: SparkSession, queries: DataFrame,
      dir: String, aliasDir: String, allowed: DataFrame): DataFrame = {
    val current = resolveIndexAlias(spark, aliasDir)
    indexFamilyOf(spark, current) match {
      case "ivf-pq-index" =>
        searchIvfPqIndexFiltered(spark, queries, dir, current, allowed)
      case _ =>
        searchLshIndexFiltered(spark, queries, dir,
          lshTableOfVersion(spark, current), allowed)
    }
  }

  /** One-row health summary of a persisted IVF-PQ index — the numbers a
    * deployment's dashboard (or an operator at 3 a.m.) needs without
    * scanning the postings: row count from the stats artifacts, cell
    * count (and the [[AutoProbes]] nprobe queries will therefore use),
    * committed append/delete batches from the commit logs, live
    * tombstoned ids, fragmented cells (the compaction backlog — this is
    * the one field that reads postings metadata, file NAMES only), and
    * the newest append's drift. Every input is the metadata the
    * lifecycle already maintains; cost is independent of index size
    * except the file listing. */
  def describeIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    val n = statsIndexSize(spark, indexDir)
    val cells = spark.read.parquet(s"$indexDir/centroids.parquet").count()
    def committed(log: String): Long =
      ifs.listDir(ifs.child(log)).count(_.getName.startsWith("batch-"))
    val tombs = tombstonesOf(spark, indexDir)
      .map(_.distinct().count()).getOrElse(0L)
    val fragmented = spark.read.parquet(s"$indexDir/postings.parquet")
      .select(col("centroid_id").cast("long").as("centroid_id"),
        input_file_name().as("f"))
      .distinct()
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("nf"))
      .filter(col("nf") > 1).count()
    val drift = indexDriftReport(spark, indexDir)
      .orderBy(col("seq").desc).limit(1)
      .select(col("batch_id"), col("drift")).collect().headOption
    // the weighted concentration the dial actually reads (build +
    // committed appends, [[indexConcentration]]) — computed ONCE and
    // shared between the surfaced column and the nprobe resolution
    // (each read costs a stats-parquet scan + an _append_log listing)
    val conc = indexConcentration(spark, indexDir)
    spark.range(1).select(
      lit(n).as("n_vectors"),
      lit(cells).as("cells"),
      lit(autoNprobeWith(conc, cells)).as("auto_nprobe"),
      // surfaced so an operator can see WHY auto_nprobe sits where it
      // does and when appends have drifted the index across a
      // calibration bound
      lit(conc.map(Double.box).orNull)
        .cast("double").as("effective_mean_cos"),
      lit(committed("_append_log")).as("committed_appends"),
      lit(committed("_delete_log")).as("committed_deletes"),
      lit(tombs).as("tombstoned_ids"),
      lit(fragmented).as("fragmented_cells"),
      lit(drift.map(_.getString(0)).orNull).as("last_batch_id"),
      lit(drift.map(_.getDouble(1)).getOrElse(0.0)).as("last_drift"))
  }

  /** Sampled RECALL canary against a live index — the end-metric
    * companion to [[indexDriftReport]] (drift measures quantizer FIT;
    * this measures what the user actually experiences). Every
    * `sampleMod`-th corpus vector queries the index through the real
    * search path ([[searchIvfPqIndex]], auto nprobe) and is scored
    * against its exact top-[[AnnK]] computed by one broadcast-sample ×
    * corpus pass (linear in n — the standard ANN-benchmark
    * methodology, `graft.Frontier`'s ground truth productized as an
    * API). Returns one row (n_vectors, sampled_queries, k,
    * recall_at_k). Default sample ≈ 150 queries regardless of corpus
    * size, so the canary costs one corpus scan + one warm search. */
  def indexRecallProbe(spark: SparkSession, dir: String, indexDir: String,
      sampleMod: Long = 0L): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    val n = e.count()
    val m = if (sampleMod > 0) sampleMod else math.max(1L, n / 150)
    val q = e.filter(col("vec_id") % m === 0)
      .select(col("vec_id").as("query_id"), col("ev").as("qev"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // exact ground truth INCLUDING the source vector — the external
    // search does not exclude it, so both sides share the convention
    val exact = e.select(col("vec_id").as("neighbor_id"),
        col("ev").as("b_ev"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= AnnK)
      .select(col("query_id"), col("neighbor_id"))
    val got = searchIvfPqIndex(spark, q, dir, indexDir)
      .select(col("query_id"), col("neighbor_id"))
    val perQuery = q.select(col("query_id"))
      .join(exact.join(got, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hits")),
        Seq("query_id"), "left")
      .select(coalesce(col("hits"), lit(0L)).cast("double").as("hits"))
    perQuery.agg(
        lit(n).as("n_vectors"),
        count(lit(1)).as("sampled_queries"),
        lit(AnnK).as("k"),
        (avg(col("hits")) / AnnK).as("recall_at_k"))
  }

  /** PIN the alias's current version for a long-running reader: resolve,
    * take a create-once lease (`_alias/_leases/<version>/<uuid>`), then
    * RE-VERIFY the version directory still exists — if a concurrent
    * [[vacuumIndexVersions]] won the race between the resolve and the
    * lease landing, drop the husk lease and re-pin whatever is current.
    * The reader therefore either holds a version the vacuum provably
    * skips, or never started on the deleted one. Returns (resolved
    * version dir to query, lease token for [[unpinIndexVersion]]).
    * Readers that outlive the operator's lease horizon (see vacuum's
    * `breakLeasesOlderThanMs`) must re-pin; a crashed reader's leaked
    * lease is reclaimed by that horizon. */
  def pinIndexVersion(spark: SparkSession,
      aliasDir: String): (String, String) = {
    val ifs = graft.sources.IndexFs.on(spark, aliasDir)
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val resolved = resolveIndexAlias(spark, aliasDir)
      val version = new org.apache.hadoop.fs.Path(resolved).getName
      val lease = ifs.child("_alias", "_leases", version,
        java.util.UUID.randomUUID().toString.take(12))
      ifs.createUtf8(lease, version)
      // the handshake's reader side: the vacuum CONDEMNS before it
      // checks leases, we check the condemned marker AFTER our lease
      // lands — for the vacuum to have missed the lease, its check ran
      // before our create, so its (earlier) marker is visible to this
      // (later) read: one of the two parties always yields
      if (!ifs.exists(ifs.child("_alias", "_condemned", version)) &&
          ifs.exists(ifs.child(version, "centroids.parquet")))
        return (resolved, lease.toString)
      ifs.deleteFile(lease) // vacuum owns this version — re-pin current
      Thread.sleep(20L)
    }
    sys.error(s"could not pin a live version under $aliasDir " +
      s"after $attempts attempts")
  }

  /** Release a [[pinIndexVersion]] lease (idempotent). */
  def unpinIndexVersion(spark: SparkSession, aliasDir: String,
      leaseToken: String): Unit =
    graft.sources.IndexFs.on(spark, aliasDir)
      .deleteFile(new org.apache.hadoop.fs.Path(leaseToken))

  /** Drop version directories older than the `keepVersions` most
    * recently published distinct names (and their superseded pointer
    * files); returns how many directories were removed. `keepVersions`
    * ≥ 1; the default 2 keeps a rollback target and gives in-flight
    * readers of the previous version their grace period.
    *
    * READER CONTRACT: a version holding a live [[pinIndexVersion]]
    * lease is SKIPPED (its pointers too) — the reader that resolved it
    * before this vacuum completes against immutable files; the next
    * vacuum after [[unpinIndexVersion]] collects it. A crashed reader
    * leaks its lease; pass `breakLeasesOlderThanMs` (the deployment's
    * max query duration) to reclaim leases older than the horizon —
    * readers slower than the horizon are out of contract and must
    * re-pin. With no horizon, leases are honored indefinitely. */
  def vacuumIndexVersions(spark: SparkSession, aliasDir: String,
      keepVersions: Int = 2,
      breakLeasesOlderThanMs: Option[Long] = None): Int = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val ifs = graft.sources.IndexFs.on(spark, aliasDir)
    val ptrs = aliasPtrs(ifs).reverse // newest first
    val named = ptrs.map { case (seq, p) => (seq, p, ifs.readUtf8(p)) }
    val keep = named.map(_._3).distinct.take(keepVersions).toSet
    def leased(version: String): Boolean = {
      val leaseDir = ifs.child("_alias", "_leases", version)
      if (!ifs.exists(leaseDir)) false
      else {
        breakLeasesOlderThanMs.foreach { horizon =>
          val cutoff = System.currentTimeMillis() - horizon
          ifs.listDir(leaseDir)
            .filter(p => ifs.modTimeOf(p) < cutoff)
            .foreach(ifs.deleteFile)
        }
        ifs.listDir(leaseDir).nonEmpty
      }
    }
    // the handshake's vacuum side: CONDEMN (create-once) before the
    // lease check — a reader whose lease this check misses must have
    // created it after, so its own condemned-marker check (which runs
    // after its lease lands) sees this marker and yields. A lease seen
    // here wins: un-condemn and skip. A condemn that loses its create
    // race belongs to a concurrent vacuum — skip, that vacuum owns it.
    val dropDirs = named.map(_._3).distinct.filterNot(keep)
      .filter { v =>
        val marker = ifs.child("_alias", "_condemned", v)
        // content stamps a millisecond ts (readers only check
        // existence): staleness and the sweep re-verify key on the
        // CONTENT ts, not the FS modTime, so a marker deleted and
        // re-created within the store's timestamp granularity (1 s on
        // some object stores) can never alias the old epoch. Legacy
        // markers without the stamp fall back to modTime in
        // [[leaseTsOf]].
        def condemn(): Boolean =
          try {
            ifs.createUtf8(marker,
              s"condemned:$v:${System.currentTimeMillis()}"); true
          }
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: org.apache.hadoop.fs.PathExistsException => false
          }
        // a lost condemn race usually means a concurrent vacuum owns
        // the version — but a marker older than the lease horizon is a
        // CRASHED vacuum's leak (crash between condemn and delete):
        // reclaim it, else the version becomes unvacuumable forever.
        // The reclaim is NOT a blind delete (the writer-lease TOCTOU,
        // round 14): a straggler that read the marker as stale could
        // otherwise delete the FRESH marker a faster reclaimer just
        // re-created, leaving a window where a reader pins a version
        // mid-deletion. Sweep only through a modTime-keyed create-once
        // reclaim marker, and re-verify the ts after winning.
        val owned = condemn() || {
          val now = System.currentTimeMillis()
          val staleTs = breakLeasesOlderThanMs.flatMap { h =>
            val ts = if (ifs.exists(marker)) leaseTsOf(ifs, marker, now)
            else Long.MaxValue
            if (ts < now - h) Some(ts) else None
          }
          staleTs.exists { ts =>
            val reclaim = ifs.child("_alias", "_condemned", s"reclaim-$v-$ts")
            val wonSweep =
              try { ifs.createUtf8(reclaim, s"reclaim:$v:$now"); true }
              catch {
                case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                     _: org.apache.hadoop.fs.PathExistsException =>
                  // a reclaim marker past the horizon is a CRASHED
                  // sweeper's husk (crash between its create and its
                  // cleanup) — sweep it so the NEXT pass can heal,
                  // else the version becomes unvacuumable forever,
                  // the exact leak this path exists to close
                  if (ifs.exists(reclaim) &&
                      breakLeasesOlderThanMs.exists(h =>
                        now - leaseTsOf(ifs, reclaim, now) > h))
                    ifs.deleteFile(reclaim)
                  false
              }
            if (wonSweep) {
              if (ifs.exists(marker) && leaseTsOf(ifs, marker, now) == ts)
                ifs.deleteFile(marker)
              ifs.deleteFile(reclaim)
            }
            wonSweep && condemn()
          }
        }
        if (!owned) false
        else if (leased(v)) { ifs.deleteFile(marker); false }
        else true
      }
    dropDirs.foreach { v =>
      ifs.deleteRecursive(ifs.child(v))
      ifs.deleteRecursive(ifs.child("_alias", "_leases", v))
      ifs.deleteFile(ifs.child("_alias", "_condemned", v))
    }
    // prune pointers that no longer resolve to a kept version; the
    // newest pointer always survives (it names the current version).
    // Pointers of leased (still-present) versions survive with them.
    val dropped = dropDirs.toSet
    named.drop(1).filter(n => dropped(n._3))
      .foreach(n => ifs.deleteFile(n._2))
    dropDirs.length
  }

  /** `_alias/ptr-<seq>` files, sequence-sorted ascending. */
  private def aliasPtrs(
      ifs: graft.sources.IndexFs): Vector[(Long, org.apache.hadoop.fs.Path)] =
    ifs.listDir(ifs.child("_alias"))
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("ptr-")) scala.util.Try(n.drop(4).toLong).toOption
          .map(_ -> p)
        else None
      }
      .sortBy(_._1)

  /** Persist the build-time assignment-quality baseline: (n_vectors,
    * mean home-cell cosine) of the corpus the quantizer was TRAINED on.
    * A tiny one-row artifact next to the codebook. */
  private def writeBuildStats(spark: SparkSession, home: DataFrame,
      indexDir: String): Unit =
    home.agg(count(lit(1)).as("n_vectors"), avg(col("ccos")).as("mean_cos"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/_stats/build.parquet")

  /** The retrain-policy signal for the incremental cadence
    * ([[appendToIvfPqIndexProd]]'s documented caveat made OPERATIONAL): per
    * append batch, how much worse the frozen quantizer fits the
    * arriving data than it fit its own training corpus. `drift` =
    * batch mean home-cell cosine − build baseline; a near-zero drift
    * means the delta is in-distribution and appending is safe, a
    * steadily falling drift means the corpus has moved and a retrain
    * (full [[buildIvfPqIndexProd]]) is due — the decision a 100 TB
    * daily-crawl pipeline makes from a dashboard, computed here from
    * two tiny stats artifacts with no corpus scan. */
  /** The maintenance-cadence dashboard feed: one row per committed
    * streaming batch — (batch_id, n_vectors, mean_cos, drift,
    * compacted_cells) — written idempotently by
    * [[graft.streaming.StreamingIndexAppend.maintainAfterBatch]]. The
    * operational companion to [[indexDriftReport]] (which recomputes
    * drift from the raw stats artifacts regardless of cadence). */
  def indexMaintenanceReport(spark: SparkSession,
      indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/_stats/maintenance.parquet")

  def indexDriftReport(spark: SparkSession, indexDir: String): DataFrame = {
    val build = spark.read.parquet(s"$indexDir/_stats/build.parquet")
      .select(col("n_vectors").as("build_n"),
        col("mean_cos").as("build_mean_cos"))
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    // a freshly-built index has no appends yet: an empty report (same
    // schema), not an AnalysisException — dashboards poll before day 1
    if (!ifs.exists(ifs.child("_stats", "appends.parquet")))
      return spark.range(0).select(
        col("id").as("n_vectors"),
        lit(0.0).as("mean_cos"), lit(0.0).as("build_mean_cos"),
        lit(0.0).as("drift"), lit("").as("batch_id"), col("id").as("seq"))
    spark.read.parquet(s"$indexDir/_stats/appends.parquet")
      .crossJoin(broadcast(build))
      .select(col("n_vectors"), col("mean_cos"),
        col("build_mean_cos"),
        (col("mean_cos") - col("build_mean_cos")).as("drift"),
        col("batch_id"), col("seq"))
      // commit order carried IN the rows (seq stamped at append time),
      // not inferred from parquet file enumeration order
      .orderBy(col("seq"))
  }

  /** Compact a persisted index's postings after many delta appends:
    * each append writes one file per touched cell, so a year of daily
    * batches leaves ~365 small files in hot cells and the query's
    * pruned read pays per-file open cost instead of one sequential
    * scan. Rewrites ONLY the cells holding more than `maxFilesPerCell`
    * files back to the build layout (one file per cell) via dynamic
    * partition overwrite; untouched cells' files stay byte-identical,
    * and centroids/codebook are never touched ([[PersistedIndexSpec]]
    * pins all of it, plus query-row equality across the compaction).
    * The fragmented-cell list is a bounded driver collect (≤ √n cell
    * ids); the compacted rows are MATERIALIZED (persist + count) before
    * the overwrite so the job never reads the files it is about to
    * replace. The same maintenance cadence every LSM-shaped store runs
    * (parquet compaction, RocksDB L0→L1, Lucene segment merges).
    *
    * SINGLE-WRITER CONSTRAINT, enforced by the per-index writer lease
    * (round 14 — previously prose): compaction must not run
    * concurrently with APPENDS to the same index. The dynamic
    * partition overwrite replaces whole `centroid_id=` directories
    * from a snapshot read at staging time, so a batch published into a
    * rewritten cell between the staging read and the overwrite would
    * be silently dropped (its commit marker would claim rows the cell
    * no longer holds). Maintenance and ingest serialize per index —
    * the streaming `foreachBatch` cadence (recover → append → compact
    * in one sequential turn) satisfies this by construction, and an
    * out-of-contract concurrent pair now loses one party loudly
    * ([[IndexWriterContentionException]]) instead of dropping rows
    * silently (`IndexConcurrencySpec`). Racing
    * DELETES are in-contract: a tombstone batch committed mid-compact
    * may miss this physical pass, but the list stays authoritative for
    * visibility and the next pass erases it (`IndexConcurrencySpec`). */
  def compactIvfPqIndex(spark: SparkSession, indexDir: String,
      maxFilesPerCell: Int = 1): Int = {
    val path = s"$indexDir/postings.parquet"
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    // the writer lease — acquired BEFORE the snapshot reads, and held
    // through the staging read AND the overwrite: the postings
    // DataFrames below freeze their FILE LISTING when they are
    // created, so a lease taken after the listing would leave a window
    // where an append acquires, commits into a soon-rewritten cell,
    // and releases — no live lease for this acquire to conflict with —
    // yet its files are absent from the snapshot and the dynamic
    // overwrite silently drops them. With the lease first, any append
    // committed before this point is IN the listing, and any append
    // after it loses the sequenced-lease arbitration loudly
    // ([[IndexWriterContentionException]]) and retries sequentially.
    // Racing DELETES stay in-contract and take no sequenced lease: a
    // tombstone batch committed mid-compact may miss this physical
    // pass, but the list stays authoritative and the next pass erases
    // it (`IndexConcurrencySpec`).
    val lease = acquireWriterLease(ifs, "compact", "all",
      writerLeaseHorizonMs(spark), tornGraceMsOf(spark))
    try {
    val postings = spark.read.parquet(path)
      .select(col("vec_id"), col("b_code"),
        col("centroid_id").cast("long").as("centroid_id"))
    // Fragmented-cell discovery off the DIRECTORY LISTING (round 18):
    // the file count per `centroid_id=` partition dir is exactly what
    // the former full postings scan + distinct(input_file_name) +
    // shuffle recomputed per maintenance turn — the listing is already
    // bounded by the protocol (≤ √n cell dirs) and costs zero Spark
    // jobs. One semantic nuance: a zero-row parquet file counts here
    // but yields no input_file_name row; the listing direction is
    // conservative (such a cell compacts — an idempotent rewrite).
    val cells: Array[Long] = ifs.listDir(ifs.child("postings.parquet"))
      .filter(_.getName.startsWith("centroid_id="))
      .flatMap { d =>
        scala.util.Try(d.getName.stripPrefix("centroid_id=").toLong)
          .toOption.filter { _ =>
            ifs.listDir(d).count(_.getName.endsWith(".parquet")) >
              maxFilesPerCell
          }
      }.toArray
    if (cells.isEmpty) return 0
    val fragmented = {
      import spark.implicits._
      cells.toSeq.toDF("centroid_id")
    }
    // Stage the compacted cells to their own directory FIRST, then
    // dynamic-overwrite the live partitions FROM the staged copy. The
    // overwrite job's lineage therefore never reads the files it is
    // replacing — a persist()-only guard breaks exactly when an
    // executor loses cached partitions mid-commit and recomputation
    // re-reads half-replaced source files (lost rows in hot cells).
    // Staging costs one extra write of only the fragmented cells; a
    // crash while staging leaves the live artifact untouched and the
    // retried maintenance turn re-runs compaction idempotently.
    val staging = ifs.child("_compact_staging")
    ifs.deleteRecursive(staging)
    // tombstoned rows are PHYSICALLY dropped from every rewritten cell —
    // compaction is where erasure becomes bytes ([[deleteFromIvfPqIndex]]);
    // the tombstone list stays authoritative for cells not rewritten
    val liveRows = tombstonesOf(spark, indexDir)
      .map(t => postings.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(postings)
    val compactedRows = liveRows
      .join(broadcast(fragmented), "centroid_id")
      .select(col("vec_id"), col("b_code"), col("centroid_id"))
      .repartition(col("centroid_id"))
    try {
      compactedRows.write.mode("overwrite").partitionBy("centroid_id")
        .parquet(staging.toString)
      // the partitions the staging ACTUALLY produced — read off the
      // directory listing (≤ |cells| names, no extra Spark job), which
      // also keeps the all-cells-dead takedown working: an empty staged
      // write has no partitions to read back as a DataFrame at all
      val stagedCells = ifs.listDir(staging).map(_.getName)
        .filter(_.startsWith("centroid_id="))
        .flatMap(n => scala.util.Try(
          n.stripPrefix("centroid_id=").toLong).toOption)
        .toSet
      if (stagedCells.nonEmpty) {
        val staged = spark.read.parquet(staging.toString)
          .select(col("vec_id"), col("b_code"),
            col("centroid_id").cast("long").as("centroid_id"))
        // writer-scoped dynamic overwrite (NOT the session conf: a
        // session-global toggle would race every other writer on the
        // session — deletes committing tombstones mid-compact are
        // in-contract and must not see flipped write semantics)
        staged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("centroid_id").parquet(path)
      }
      // A fragmented cell whose rows are ALL tombstoned stages no rows,
      // so dynamic overwrite (which only replaces partitions PRESENT in
      // the written data) leaves the dead cell's files — the erased
      // vectors' bytes — on disk. Queries stay correct (tombstones are
      // authoritative), but the purge's byte-erasure guarantee would
      // silently fail exactly when a takedown batch covers whole cells
      // (clustered per-tenant vectors — the realistic privacy-deadline
      // shape). Diff the fragmented list against the partitions the
      // staging actually produced and delete the empty cells'
      // partition directories explicitly. Idempotent on retry: a cell
      // deleted here simply stops appearing in the fragmented list.
      cells.filterNot(stagedCells).foreach { c =>
        ifs.deleteRecursive(
          new org.apache.hadoop.fs.Path(path, s"centroid_id=$c"))
      }
    } finally ifs.deleteRecursive(staging)
    cells.length
    } finally releaseWriterLease(ifs, lease)
  }

  /** Deterministic base/delta split of the fixture for the incremental
    * registry row: day-0 ingest = vec_id % 8 ≠ 7, the daily delta =
    * vec_id % 8 = 7 (≈12% of the corpus — large enough to touch many
    * cells, small enough that the append cost visibly ≪ the build). */
  private def baseDeltaSplit(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    (e.filter(col("vec_id") % 8 =!= 7), e.filter(col("vec_id") % 8 === 7))
  }

  /** Registry form `sim_ann_index_delta`: build the index on the BASE
    * split, append the delta against the frozen artifacts, then run the
    * standard indexed query over the FULL corpus. The DuckDB oracle
    * replays the identical algorithm (training CTEs scoped to the base
    * split, assignment/encode of every vector with the frozen
    * artifacts), so the result hash-matches — the gate proves
    * delta-append ≡ a monolithic frozen-artifact encode of
    * base ∪ delta. */
  def annIvfPqIndexDeltaProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_delta_prod")
    val (base, delta) = baseDeltaSplit(spark, dir)
    val h = buildIvfPqIndexProdOn(spark, base, root)
    appendToIvfPqIndexProd(spark, delta, root, "delta", Some(h))
    annIvfPqIndexed(spark, dir, root, handle = Some(h))
  }

  /** Oracle for [[annIvfPqIndexDeltaProd]]: the frozen-artifact algorithm
    * replayed monolithically — centroids and codebook trained on the
    * BASE split (`vb`), every vector (base ∪ delta) assigned and
    * encoded against them, then the standard IVF-PQ query tail. A
    * hash match proves the append path produced exactly the index a
    * from-scratch encode with the same frozen artifacts would have. */
  val annIvfPqIndexDeltaOracle: String =
    s"""WITH $vCte,
       |vb AS (SELECT vec_id, ev FROM v WHERE vec_id % 8 <> 7),
       |kk AS (SELECT GREATEST(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
       |       FROM vb),
       |seeds AS (SELECT vec_id AS centroid_id, ev AS cv FROM vb
       |          QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       |h0 AS (SELECT b.vec_id, s.centroid_id,
       |              ${sqlCos("b.ev", "s.cv")} AS scos
       |       FROM vb b CROSS JOIN seeds s),
       |home AS (SELECT vec_id, centroid_id FROM (
       |           SELECT vec_id, centroid_id,
       |                  row_number() OVER (PARTITION BY vec_id
       |                                     ORDER BY scos DESC, centroid_id) AS r
       |           FROM h0)
       |         WHERE r = 1),
       |mx AS (SELECT h.centroid_id, b.vec_id, CAST(i AS BIGINT) - 1 AS dim,
       |              b.ev[CAST(i AS INT)] AS x
       |       FROM home h JOIN vb b ON h.vec_id = b.vec_id,
       |            range(1, $Dim + 1) t(i)),
       |md AS (SELECT centroid_id, dim,
       |              list_reduce(list_transform(
       |                  list_sort(array_agg({'vec_id': vec_id, 'x': x})),
       |                  s -> s.x),
       |                (a, b) -> a + b) AS m
       |       FROM mx GROUP BY 1, 2),
       |cent AS (SELECT centroid_id,
       |                list_transform(
       |                  list_sort(array_agg({'dim': dim, 'm': m})),
       |                  s -> s.m) AS cv
       |         FROM md GROUP BY 1),
       |a0 AS (SELECT v.vec_id, c.centroid_id,
       |              ${sqlCos("v.ev", "c.cv")} AS ccos
       |       FROM v CROSS JOIN cent c),
       |assign AS (SELECT vec_id, centroid_id, crnk FROM (
       |             SELECT vec_id, centroid_id,
       |                    row_number() OVER (PARTITION BY vec_id
       |                                       ORDER BY ccos DESC, centroid_id)
       |                      AS crnk
       |             FROM a0)
       |           WHERE crnk <= $IvfProbes),
       |members AS (SELECT vec_id AS neighbor_id, centroid_id
       |            FROM assign WHERE crnk = 1),
       |cand AS (SELECT a.vec_id, m.neighbor_id
       |         FROM assign a JOIN members m USING (centroid_id)
       |         WHERE a.vec_id <> m.neighbor_id),
       |sub AS (SELECT vec_id, m,
       |               ev[m * $PqS + 1 : m * $PqS + $PqS] AS sub
       |        FROM v, range(0, $PqM) t(m)),
       |subb AS (SELECT s.vec_id, s.m, s.sub FROM sub s JOIN vb USING (vec_id)),
       |seedid AS (SELECT vec_id FROM vb
       |           QUALIFY row_number() OVER (ORDER BY vec_id) <= $PqK),
       |sseed AS (SELECT b.m, b.vec_id AS centroid_id, b.sub AS cv
       |          FROM subb b JOIN seedid USING (vec_id)),
       |phome AS (SELECT vec_id, m, centroid_id FROM (
       |            SELECT s.vec_id, s.m, c.centroid_id,
       |                   row_number() OVER (
       |                     PARTITION BY s.vec_id, s.m
       |                     ORDER BY ${sqlL2("s.sub", "c.cv")}, c.centroid_id)
       |                     AS r
       |            FROM subb s JOIN sseed c ON s.m = c.m)
       |          WHERE r = 1),
       |pmx AS (SELECT h.m, h.centroid_id, s.vec_id,
       |               CAST(i AS BIGINT) - 1 AS dim, s.sub[CAST(i AS INT)] AS x
       |        FROM phome h
       |        JOIN subb s ON h.vec_id = s.vec_id AND h.m = s.m,
       |             range(1, $PqS + 1) t(i)),
       |pmd AS (SELECT m, centroid_id, dim,
       |               list_reduce(list_transform(
       |                   list_sort(array_agg({'vec_id': vec_id, 'x': x})),
       |                   s -> s.x),
       |                 (a, b) -> a + b) / count(*) AS mu
       |        FROM pmx GROUP BY 1, 2, 3),
       |pcent AS (SELECT m, centroid_id,
       |                 list_transform(
       |                   list_sort(array_agg({'dim': dim, 'mu': mu})),
       |                   s -> s.mu) AS cv
       |          FROM pmd GROUP BY 1, 2),
       |pcb AS (SELECT m, cv,
       |               row_number() OVER (PARTITION BY m
       |                                  ORDER BY centroid_id) - 1 AS code
       |        FROM pcent),
       |pasg AS (SELECT vec_id, m, code, sub, cv FROM (
       |           SELECT s.vec_id, s.m, c.code, s.sub, c.cv,
       |                  row_number() OVER (
       |                    PARTITION BY s.vec_id, s.m
       |                    ORDER BY ${sqlL2("s.sub", "c.cv")}, c.code) AS r
       |           FROM sub s JOIN pcb c ON s.m = c.m)
       |         WHERE r = 1),
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |a0q AS (SELECT c.vec_id, c.neighbor_id,
       |               ${sqlCos("a.ev", "d.qv")} AS acos
       |        FROM cand c
       |        JOIN v a ON c.vec_id = a.vec_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |pre AS (SELECT vec_id, neighbor_id FROM (
       |          SELECT vec_id, neighbor_id,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY acos DESC, neighbor_id)
       |                   AS prernk
       |          FROM a0q)
       |        WHERE prernk <= $PqPreK),
       |p AS (SELECT c.vec_id, c.neighbor_id,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM pre c
       |      JOIN v a ON c.vec_id = a.vec_id
       |      JOIN v b ON c.neighbor_id = b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Query a persisted IVF-PQ index: read centroids (broadcast), assign
    * each query vector its nprobe cells, join the cells against the
    * partition-pruned postings read, rank candidates by the native
    * asymmetric decoded-cosine ([[graft.functions.PqAsymmetricCosine]],
    * 8-byte code words — never embeddings — through the big join), and
    * rerank the top [[PqPreK]] survivors full-precision against the
    * source table. Row-identical to [[annIvfPqProd]] over an index
    * built from the same corpus (the asymmetric expression's fold is
    * bit-identical to the decoded-array cosine, spec-pinned).
    *
    * `nprobe` / `preK` are the deployment's recall-vs-cost knobs
    * (probe more cells / rerank deeper). nprobe DEFAULTS to
    * [[AutoProbes]]: the probe fraction measured at the oracle-gated
    * operating point is held as the index grows (cell count read off
    * the artifact's own centroid table), which is what keeps recall ≈
    * flat at 10×/30× where the round-11 frontier measured a fixed
    * nprobe losing 0.2+ recall; at fixture scale the auto rule resolves
    * to exactly the oracle-gated 8. `graft.Frontier`'s sweep measures
    * what each explicit notch buys at scale.
    *
    * Deletes: when the index carries tombstones
    * ([[deleteFromIvfPqIndex]]), deleted vectors neither query nor
    * appear as neighbors — a broadcast anti-join on each side (the
    * erasure list is a trickle relative to the corpus by contract; a
    * mass delete is a rebuild), applied to the postings read BEFORE the
    * candidate join so dead rows never enter the probe exchange. */
  def annIvfPqIndexed(spark: SparkSession, dir: String,
      indexDir: String, nprobe: Int = AutoProbes,
      preK: Int = PqPreK, handle: Option[IvfPqHandle] = None): DataFrame = {
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    val tomb = tombstonesOf(spark, indexDir)
    val vq = tomb.map(t => v.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(v)
    // centroids/codebook from the caller's handle when the same call
    // just built or loaded them — no re-read, no count job (round 18)
    val h = handle.getOrElse(loadIvfPqHandle(spark, indexDir))
    val cent = h.cent
    // the auto default reads the dial off the artifact itself: cell
    // count from the (≤√n-row) centroid table, weighted by the
    // build-stamped concentration — the probe fraction holds recall on
    // isotropic corpora as the index grows, while a concentrated
    // (clustered) corpus keeps the floor, where recall is measured
    // flat and extra probes only burn compute ([[autoNprobeFor]])
    val np = if (nprobe == AutoProbes)
               autoNprobeFor(spark, indexDir, h.cells)
             else nprobe
    val cbArr = h.cbArr
    val probes = ivfAssign(vq, cent, np)
      .select(col("vec_id"), col("centroid_id"))
    // partition-column type inference can narrow centroid_id to int on
    // read; normalize back to the writer's long before the join
    val allMembers = spark.read.parquet(s"$indexDir/postings.parquet")
      .select(col("vec_id").as("neighbor_id"), col("b_code"),
        col("centroid_id").cast("long").as("centroid_id"))
    val members = tomb.map(t => allMembers.join(
        broadcast(t.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti"))
      .getOrElse(allMembers)
    val cand = probes.join(members, "centroid_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"), col("b_code"))
    val wPre = Window.partitionBy(col("vec_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val pre = cand
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .select(col("vec_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.pq_asymmetric_cosine(
          col("a_ev"), col("b_code"), cbArr, PqS).as("acos"))
      .withColumn("prernk", row_number().over(wPre))
      .filter(col("prernk") <= preK)
      .select(col("vec_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (pre
      .join(v.select(col("vec_id"), col("ev").as("a_ev")), "vec_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("ev").as("b_ev")),
        "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        cosine(col("a_ev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"), col("cosine")))
  }

  // --- external-query search (the actual search-service API) --------------

  /** Search a persisted IVF-PQ index with an EXTERNAL query set — the
    * actual API of a vector-search service (every other ANN form here
    * self-joins the corpus; a deployed index is queried by vectors that
    * are NOT in it: a user prompt's embedding, a crawler's new page, a
    * training batch looking for its nearest neighbors). `queries` is any
    * (query_id, qev: array<double>) frame; the corpus at `dir` is the
    * table the index was built from (full-precision vectors are fetched
    * from it only for the top-[[PqPreK]] rerank).
    *
    * Plan shape = the indexed self-join's: broadcast centroid read →
    * nprobe cells per query → partition-PRUNED postings read → 8-byte
    * code candidates ranked by the native asymmetric cosine → bounded
    * full-precision rerank. Query cost scales with |queries| ·
    * nprobe/√n of the index — independent of corpus size beyond the
    * pruned read. Returns (query_id, neighbor_id, rnk, cosine).
    * `nprobe` / `preK` as on [[annIvfPqIndexed]] — the service's
    * recall-vs-latency dials; nprobe defaults to [[AutoProbes]] (the
    * index-derived probe fraction, = the oracle-gated 8 at fixture
    * scale). */
  def searchIvfPqIndex(spark: SparkSession, queries: DataFrame,
      dir: String, indexDir: String, nprobe: Int = AutoProbes,
      preK: Int = PqPreK, handle: Option[IvfPqHandle] = None): DataFrame =
    searchIvfPqIndexFrom(spark, queries, dir, indexDir, None, nprobe, preK,
      handle)

  /** FILTERED search — the other half of every real vector-search API
    * (`WHERE lang = 'de' AND <ann>`): restrict the neighbor space to
    * `allowed` (any single-column frame of corpus `vec_id`s, typically
    * a metadata predicate on a side table) and return the top-k WITHIN
    * that subset. PRE-filtering semantics: the restriction lands before
    * the preselect/rerank windows, so ranks are dense 1..k over allowed
    * neighbors — not a post-hoc thinning of an unfiltered top-k that
    * returns fewer than k rows exactly when the filter is selective.
    *
    * Placement at scale: the semi-join applies to the CANDIDATES (after
    * the probe join, before ranking), not to the postings table — for a
    * search workload candidates number |queries|·nprobe·cell, usually
    * orders below the index size, and the allowed set may be a large
    * corpus fraction (a 14% language slice of 10⁹ ids is no broadcast),
    * so filtering candidate-scale rows is the cheap side. Catalyst still
    * broadcasts `allowed` when it is small. The candidate pool itself is
    * the UNfiltered nprobe cells (probes are chosen by geometry, not
    * metadata), so heavy filters thin candidates — the standard
    * filtered-ANN recall caveat. The [[AutoProbes]] default COMPENSATES
    * automatically: nprobe scales by the filter's inverse selectivity
    * (capped at all cells — under a heavy filter the search degrades
    * gracefully to a PQ-coded scan of the filter's rows, the economics
    * every filtered-ANN system converges to); pass an explicit `nprobe`
    * to pin the budget instead. */
  def searchIvfPqIndexFiltered(spark: SparkSession, queries: DataFrame,
      dir: String, indexDir: String, allowed: DataFrame,
      nprobe: Int = AutoProbes, preK: Int = PqPreK,
      handle: Option[IvfPqHandle] = None): DataFrame =
    searchIvfPqIndexFrom(spark, queries, dir, indexDir, Some(allowed),
      nprobe, preK, handle)

  /** The index's row count from its own stats artifacts (build baseline
    * + committed append rows — two tiny one-row-per-batch parquets, no
    * postings scan): the denominator of the filtered search's
    * selectivity estimate. */
  private[operators] def statsIndexSize(spark: SparkSession, indexDir: String): Long =
    statsIndexSizeFrom(indexStatsArtifacts(spark, indexDir))

  /** [[statsIndexSize]] on already-read stats artifacts. */
  private def statsIndexSizeFrom(
      stats: (Option[(Long, Option[Double])],
              Seq[(String, Long, Option[Double])])): Long =
    stats._1.map(_._1).getOrElse(0L) + stats._2.map(_._2).sum

  private def searchIvfPqIndexFrom(spark: SparkSession, queries: DataFrame,
      dir: String, indexDir: String, allowed: Option[DataFrame],
      nprobe: Int, preK: Int,
      handle: Option[IvfPqHandle] = None): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dvec.as("ev"))
    val q = queries.select(col("query_id"), col("qev"))
    // frozen artifacts from the caller's handle when available; the
    // stats artifacts are read ONCE and feed both the concentration
    // and the size denominator (round 18 — each was read twice before)
    val h = handle.getOrElse(loadIvfPqHandle(spark, indexDir))
    val cent = h.cent
    // auto rule: hold the probe fraction as the index grows; a filtered
    // search additionally scales by the filter's inverse selectivity
    // (|allowed| from a count of the filter frame, index size from the
    // stats artifacts — no postings scan), restoring the expected
    // allowed-candidate budget the geometry-chosen probes would
    // otherwise thin (the round-11 measured recall penalty)
    val np =
      if (nprobe != AutoProbes) nprobe
      else {
        val cells = h.cells
        val stats = indexStatsArtifacts(spark, indexDir)
        val base = autoNprobeWith(
          concentrationFrom(spark, indexDir, stats), cells)
        allowed match {
          case None => base
          case Some(a) => resolveFilteredNprobe(base, cells,
            a.count(), statsIndexSizeFrom(stats))
        }
      }
    val cbArr = h.cbArr
    val probes = ivfAssign(
        q.select(col("query_id").as("vec_id"), col("qev").as("ev")), cent,
        np)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
    val allMembers = spark.read.parquet(s"$indexDir/postings.parquet")
      .select(col("vec_id").as("neighbor_id"), col("b_code"),
        col("centroid_id").cast("long").as("centroid_id"))
    // tombstoned vectors leave the search space at the postings read
    // (broadcast anti-join — the erasure list is small by contract)
    val members = tombstonesOf(spark, indexDir)
      .map(t => allMembers.join(
        broadcast(t.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti"))
      .getOrElse(allMembers)
    val cand0 = probes.join(members, "centroid_id")
      .select(col("query_id"), col("neighbor_id"), col("b_code"))
    val cand = allowed.map(a => cand0.join(
        a.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
        "left_semi"))
      .getOrElse(cand0)
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val pre = cand
      .join(q, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.pq_asymmetric_cosine(
          col("qev"), col("b_code"), cbArr, PqS).as("acos"))
      .withColumn("prernk", row_number().over(wPre))
      .filter(col("prernk") <= preK)
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (pre
      .join(q, "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("ev").as("b_ev")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cosine")))
  }

  /** The registry's deterministic external query set: every 10th corpus
    * vector, first 4 dims shifted by +0.05, at query_id = vec_id +
    * 300000 — "slightly moved" probes whose true neighbors are known to
    * include their source vector, so the search's output is
    * interpretable AND the DuckDB oracle derives the identical set. */
  private def searchQuerySet(spark: SparkSession, dir: String): DataFrame = {
    val pert = transform(dvec,
      (x, i) => when(i < 4, x + lit(0.05)).otherwise(x))
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 300000L).as("query_id"), pert.as("qev"))
  }

  /** Registry form `sim_ann_index_search`: build over the corpus, then
    * the external-query search. */
  def annIvfPqIndexSearchProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_search_prod")
    val h = buildIvfPqIndexProd(spark, dir, root)
    searchIvfPqIndex(spark, searchQuerySet(spark, dir), dir, root,
      handle = Some(h))
  }

  /** Oracle for [[annIvfPqIndexSearchProd]]: the identical algorithm
    * monolithically — corpus-trained centroids/codebook (the
    * [[annIvfPqOracle]] CTEs verbatim), the derived query set assigned
    * to its nprobe cells, candidates against the corpus home cells,
    * asymmetric preselect, exact rerank. */
  val annIvfPqIndexSearchOracle: String =
    s"""WITH $ivfCandCtes,
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |q AS (SELECT vec_id + 300000 AS query_id,
       |             [CASE WHEN i <= 4 THEN ev[i] + 0.05 ELSE ev[i] END
       |              for i in range(1, len(ev) + 1)] AS qev
       |      FROM v WHERE vec_id % 10 = 0),
       |qa0 AS (SELECT q.query_id, c.centroid_id,
       |               ${sqlCos("q.qev", "c.cv")} AS ccos
       |        FROM q CROSS JOIN cent c),
       |qassign AS (SELECT query_id, centroid_id FROM (
       |              SELECT query_id, centroid_id,
       |                     row_number() OVER (PARTITION BY query_id
       |                                        ORDER BY ccos DESC, centroid_id)
       |                       AS crnk
       |              FROM qa0)
       |            WHERE crnk <= $IvfProbes),
       |qcand AS (SELECT a.query_id, m.neighbor_id
       |          FROM qassign a JOIN members m USING (centroid_id)),
       |qaq AS (SELECT c.query_id, c.neighbor_id,
       |               ${sqlCos("q.qev", "d.qv")} AS acos
       |        FROM qcand c
       |        JOIN q ON c.query_id = q.query_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |qpre AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY acos DESC, neighbor_id)
       |                    AS prernk
       |           FROM qaq)
       |         WHERE prernk <= $PqPreK),
       |qp AS (SELECT c.query_id, c.neighbor_id,
       |              ${sqlCos("q.qev", "b.ev")} AS cosine
       |       FROM qpre c
       |       JOIN q ON c.query_id = q.query_id
       |       JOIN v b ON c.neighbor_id = b.vec_id),
       |qr AS (SELECT query_id, neighbor_id, cosine,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
       |       FROM qp)
       |SELECT query_id, neighbor_id, rnk, cosine FROM qr WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Registry form `sim_ann_index_delete`: build the index on the FULL
    * corpus, erase every 10th-slot vector (vec_id % 10 = 5 — ≈10%, the
    * takedown-batch shape), then run the standard indexed self-join
    * query: deleted vectors neither query nor appear as neighbors, and
    * every surviving query's ranks are dense over the thinned space. */
  def annIvfPqIndexDeleteProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_gdpr_prod")
    val h = buildIvfPqIndexProd(spark, dir, root)
    deleteFromIvfPqIndex(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 5)
        .select(col("vec_id")), root, "erasure-1")
    annIvfPqIndexed(spark, dir, root, handle = Some(h))
  }

  /** Oracle for [[annIvfPqIndexDeleteProd]]: the [[annIvfPqOracle]] replay
    * with the erasure applied where the engine applies it — AFTER
    * training (the build preceded the delete, so centroids/codebook/home
    * cells reflect the full corpus) and BEFORE the preselect/rerank
    * windows (ranks are dense over the thinned candidate set). */
  val annIvfPqIndexDeleteOracle: String =
    s"""WITH $ivfCandCtes,
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |candl AS (SELECT vec_id, neighbor_id FROM cand
       |          WHERE vec_id % 10 <> 5 AND neighbor_id % 10 <> 5),
       |a0q AS (SELECT c.vec_id, c.neighbor_id,
       |               ${sqlCos("a.ev", "d.qv")} AS acos
       |        FROM candl c
       |        JOIN v a ON c.vec_id = a.vec_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |pre AS (SELECT vec_id, neighbor_id FROM (
       |          SELECT vec_id, neighbor_id,
       |                 row_number() OVER (PARTITION BY vec_id
       |                                    ORDER BY acos DESC, neighbor_id)
       |                   AS prernk
       |          FROM a0q)
       |        WHERE prernk <= $PqPreK),
       |p AS (SELECT c.vec_id, c.neighbor_id,
       |             ${sqlCos("a.ev", "b.ev")} AS cosine
       |      FROM pre c
       |      JOIN v a ON c.vec_id = a.vec_id
       |      JOIN v b ON c.neighbor_id = b.vec_id),
       |r AS (SELECT vec_id, neighbor_id, cosine,
       |             row_number() OVER (PARTITION BY vec_id
       |                                ORDER BY cosine DESC, neighbor_id) AS rnk
       |      FROM p)
       |SELECT vec_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** The registry's metadata filter for the filtered search: vectors
    * whose document (doc_id = vec_id on the fixtures) is German — 14%
    * of the corpus, selective enough that pre- vs post-filtering
    * semantics visibly differ. */
  private def allowedDeVectors(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("lang") === "de")
      .select(col("doc_id").as("vec_id"))

  /** Registry form `sim_ann_index_search_filtered`: build, then the
    * external-query search restricted to German-language documents —
    * `WHERE lang = 'de' AND <ann>`, the shape every vector-search
    * service exposes. It runs the FIXED-knob configuration (nprobe 8),
    * replayed by the oracle: the gate pins the algorithm at the
    * fixture-scale setting; the auto default's selectivity
    * compensation is spec-pinned (AutoNprobeSpec) and
    * frontier-measured instead. */
  def annIvfPqIndexSearchFilteredProd(spark: SparkSession,
      dir: String): DataFrame = {
    val root = indexRootFor(dir, "_searchflt_prod")
    val h = buildIvfPqIndexProd(spark, dir, root)
    searchIvfPqIndexFiltered(spark, searchQuerySet(spark, dir), dir, root,
      allowedDeVectors(spark, dir), nprobe = IvfProbes, handle = Some(h))
  }

  /** Oracle for [[annIvfPqIndexSearchFilteredProd]]: the
    * [[annIvfPqIndexSearchOracle]] replay with the metadata restriction
    * applied at the candidate stage — qcand joins `documents` on
    * neighbor_id = doc_id with the language predicate, then the
    * standard preselect/rerank windows over the restricted set. */
  val annIvfPqIndexSearchFilteredOracle: String =
    s"""WITH $ivfCandCtes,
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |q AS (SELECT vec_id + 300000 AS query_id,
       |             [CASE WHEN i <= 4 THEN ev[i] + 0.05 ELSE ev[i] END
       |              for i in range(1, len(ev) + 1)] AS qev
       |      FROM v WHERE vec_id % 10 = 0),
       |qa0 AS (SELECT q.query_id, c.centroid_id,
       |               ${sqlCos("q.qev", "c.cv")} AS ccos
       |        FROM q CROSS JOIN cent c),
       |qassign AS (SELECT query_id, centroid_id FROM (
       |              SELECT query_id, centroid_id,
       |                     row_number() OVER (PARTITION BY query_id
       |                                        ORDER BY ccos DESC, centroid_id)
       |                       AS crnk
       |              FROM qa0)
       |            WHERE crnk <= $IvfProbes),
       |qcand AS (SELECT a.query_id, m.neighbor_id
       |          FROM qassign a JOIN members m USING (centroid_id)
       |          JOIN documents dd
       |            ON m.neighbor_id = dd.doc_id AND dd.lang = 'de'),
       |qaq AS (SELECT c.query_id, c.neighbor_id,
       |               ${sqlCos("q.qev", "d.qv")} AS acos
       |        FROM qcand c
       |        JOIN q ON c.query_id = q.query_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |qpre AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY acos DESC, neighbor_id)
       |                    AS prernk
       |           FROM qaq)
       |         WHERE prernk <= $PqPreK),
       |qp AS (SELECT c.query_id, c.neighbor_id,
       |              ${sqlCos("q.qev", "b.ev")} AS cosine
       |       FROM qpre c
       |       JOIN q ON c.query_id = q.query_id
       |       JOIN v b ON c.neighbor_id = b.vec_id),
       |qr AS (SELECT query_id, neighbor_id, cosine,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
       |       FROM qp)
       |SELECT query_id, neighbor_id, rnk, cosine FROM qr WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Deterministic per-fixture index root for the registry forms (the
    * correctness/bench harnesses call queries as (spark, dir); the
    * artifact is rebuilt — mode overwrite — on every call so the gate
    * always exercises the full persist → prune → rerank path). The
    * root carries a per-PROCESS random tag so concurrent JVMs on the
    * same fixture never race on one artifact (and distinct dirs can't
    * collide via hashCode), and every root this process creates is
    * removed by a shutdown hook. */
  private val createdIndexRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val indexProcessTag: String = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdIndexRoots.forEach { root =>
        graft.streaming.StreamingStaging.deleteRecursively(
          java.nio.file.Paths.get(root))
      }))
    tag
  }

  private def indexRootFor(dir: String, suffix: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ivfpq_index_" +
      s"${indexProcessTag}_${java.lang.Integer.toHexString(dir.hashCode)}$suffix"
    createdIndexRoots.add(root)
    root
  }

  /** Bench-only row `sim_ann_ivfpq_index_build`: the INGEST phase alone
    * (train + encode + write the partitioned postings, production
    * trainers), so the bench artifact prices build and query separately
    * — the combined `sim_ann_ivfpq_indexed` row necessarily hid the
    * query-many advantage behind its per-call rebuild. */
  def annIvfPqIndexBuildBench(spark: SparkSession, dir: String): DataFrame = {
    buildIvfPqIndexProd(spark, dir, indexRootFor(dir, "_benchb"))
    spark.range(1).toDF("built")
  }

  private val benchQueryRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, IvfPqHandle)]()

  /** Bench-only row `sim_ann_ivfpq_index_query`: query against a
    * per-process CACHED artifact — built once on first call (the first
    * bench iteration pays it; min-of-3 reports the steady state), so
    * the row shows what a query session actually costs once the index
    * exists: a broadcast centroid read + partition-pruned postings scan
    * + ONE shuffle. Correctness of the identical plan is oracle-gated
    * via `sim_ann_ivfpq_indexed`. */
  def annIvfPqIndexQueryBench(spark: SparkSession, dir: String): DataFrame = {
    // the handle (centroids/codebook scalars) is part of the cached
    // artifact: a deployed query session holds it open rather than
    // re-reading the frozen tables per query (round 18)
    val (root, h) = benchQueryRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_benchq")
      (r, buildIvfPqIndexProd(spark, d, r))
    })
    annIvfPqIndexed(spark, dir, root, handle = Some(h))
  }

  private val benchAppendRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, IvfPqHandle)]()

  /** Bench-only row `sim_ann_index_append`: the STEADY-STATE append — a
    * daily delta landing on an EXISTING index artifact (cached per
    * process, built once on first call), which is what the operation
    * costs in production; the oracle-gated `sim_ann_index_delta` row
    * necessarily prices a from-scratch base build per call so the gate
    * exercises the whole lifecycle. Each timed call un-commits the
    * previous iteration's bench batch (file deletes — NOT a production
    * verb, just the harness reset) and re-appends the delta under the
    * commit-log protocol, so the number is the real append economics:
    * delta-sized assignment against broadcast centroids + one 24 B-row
    * shuffle + per-file renames, independent of accumulated index
    * size. */
  def annIvfPqIndexAppendBench(spark: SparkSession, dir: String): DataFrame = {
    val (root, h) = benchAppendRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_bencha")
      (r, buildIvfPqIndexProdOn(spark,
        Tables.embeddings(spark, d).filter(col("vec_id") % 8 =!= 7), r))
    })
    dropCommittedBatch(spark, root, "bench")
    appendToIvfPqIndexProd(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 8 === 7),
      root, "bench", Some(h))
    spark.range(1).toDF("appended")
  }

  private val benchSearchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, IvfPqHandle)]()

  /** Bench-only row `sim_ann_index_search_query`: the external-query
    * search against a per-process CACHED warm artifact — the deployed
    * search-service steady state (broadcast centroid assignment +
    * partition-pruned postings read + top-k rerank), with the build
    * priced separately by `sim_ann_ivfpq_index_build`. The oracle-gated
    * `sim_ann_index_search` row rebuilds per call by design. */
  def annIvfPqIndexSearchQueryBench(spark: SparkSession,
      dir: String): DataFrame = {
    val (root, h) = benchSearchRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_benchs")
      (r, buildIvfPqIndexProd(spark, d, r))
    })
    searchIvfPqIndex(spark, searchQuerySet(spark, dir), dir, root,
      handle = Some(h))
  }

  private val benchDeleteRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Un-commit a tombstone batch — files + marker (the bench harness's
    * reset between timed iterations; NOT a production verb). */
  private[graft] def dropCommittedDeleteBatch(spark: SparkSession,
      indexDir: String, batchId: String): Unit = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    ifs.listFilesRec(ifs.child("tombstones.parquet"))
      .filter(p => isBatchFileOf(p.getName, batchId))
      .foreach(ifs.deleteFile)
    ifs.deleteFile(ifs.child("_delete_log", s"batch-$batchId"))
  }

  /** Bench-only row `sim_ann_index_delete_apply`: the STEADY-STATE
    * erasure — a takedown batch landing on an EXISTING index (cached
    * per process), which is what the operation costs in production:
    * one O(|ids|) tombstone write + marker, no postings partition
    * touched, independent of index size. The oracle-gated
    * `sim_ann_index_delete` row prices build+delete+query so the
    * correctness gate exercises the whole path. Each timed call
    * un-commits the previous iteration's batch (harness reset) and
    * re-applies it under the commit-log protocol. */
  def annIvfPqIndexDeleteApplyBench(spark: SparkSession,
      dir: String): DataFrame = {
    val root = benchDeleteRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_benchd")
      buildIvfPqIndexProd(spark, d, r)
      r
    })
    dropCommittedDeleteBatch(spark, root, "bench")
    deleteFromIvfPqIndex(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 5)
        .select(col("vec_id")), root, "bench")
    spark.range(1).toDF("deleted")
  }

  private val benchPurgeRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Bench-only row `sim_ann_index_purge`: the erasure-DEADLINE job — a
    * FULL physical purge pass (`compactIvfPqIndex(maxFilesPerCell = 0)`,
    * every cell force-rewritten with the tombstone anti-join applied)
    * against a per-process cached artifact carrying a 10% tombstone
    * load. This is the job a privacy deadline actually forces: the
    * tombstone write itself is O(|ids|) (`sim_ann_index_delete_apply`,
    * 0.38 s), but the BYTES are only gone once every live cell has been
    * rewritten without the dead rows — a cost proportional to index
    * size, priced here instead of asserted. The first timed call
    * performs the real byte erasure; subsequent calls rewrite the
    * already-thinned cells under the same (authoritative) tombstone
    * list, so min-of-N reports the steady full-rewrite pass that
    * dominates either way. Correctness of the purge (rows gone, query
    * invariant) is spec-gated in `PersistedIndexSpec`. */
  def annIvfPqIndexPurgeBench(spark: SparkSession, dir: String): DataFrame = {
    val root = benchPurgeRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_benchpu")
      buildIvfPqIndexProd(spark, d, r)
      deleteFromIvfPqIndex(spark,
        Tables.embeddings(spark, d).filter(col("vec_id") % 10 === 5)
          .select(col("vec_id")), r, "bench")
      r
    })
    val cells = compactIvfPqIndex(spark, root, maxFilesPerCell = 0)
    spark.range(1).select(lit(cells.toLong).as("purged_cells"))
  }

  /** Bench-only row `sim_ann_index_search_filtered_query`: the filtered
    * search against the per-process CACHED warm artifact (shared with
    * `sim_ann_index_search_query` — searches never mutate the index),
    * isolating what the metadata semi-join costs the steady state. */
  def annIvfPqIndexSearchFilteredQueryBench(spark: SparkSession,
      dir: String): DataFrame = {
    val (root, h) = benchSearchRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_benchs")
      (r, buildIvfPqIndexProd(spark, d, r))
    })
    searchIvfPqIndexFiltered(spark, searchQuerySet(spark, dir), dir, root,
      allowedDeVectors(spark, dir), handle = Some(h))
  }

  // --- persisted LSH index (the query-throughput artifact) -----------------

  /** Build a persisted multi-probe LSH index — the bucket-join twin of
    * the IVF-PQ artifact, tuned for QUERY THROUGHPUT rather than
    * incremental ingest:
    *   - `meta.parquet` — num_planes, the index's ONLY trained scalar
    *     (the hyperplanes themselves are a deterministic LCG of the
    *     plane number inside [[bucketExpr]] — nothing else to freeze);
    *   - `codebook.parquet` — the PQ codebook for the asymmetric
    *     preselect (same layout as the IVF-PQ artifact's);
    *   - `postings` — (vec_id, bucket, b_code) ≈ 24 B rows as a
    *     hash-BUCKETED table clustered+sorted on `bucket`
    *     ([[graft.sources.Layouts.writeBucketedOn]]).
    * The bucketed layout is the 100 TB point: the in-query LSH form's
    * candidate join SHUFFLES the postings side every query (measured
    * 927 MB at 10× fixture scale — the dominant term in its frontier
    * row), while a bucketed-table scan satisfies ClusteredDistribution
    * on `bucket`, so the candidate join moves ONLY the 16 B probe rows
    * and the postings never cross the wire again after the one
    * write-time shuffle. Signature computation and codebook training
    * also leave the query path (precomputed at build).
    *
    * Scope trade vs the IVF-PQ artifact, recorded: LSH postings accept
    * appends naturally (bucket membership is frozen with num_planes),
    * but Spark bucketed-table files encode their bucket id in the FILE
    * NAME, so the rename-based exactly-once append protocol does not
    * transfer — a pipeline that needs continuous ingest uses the IVF-PQ
    * artifact (the full lifecycle: committed append, compaction,
    * drift); the LSH artifact is rebuild-per-corpus-version.
    *
    * Trainers are the production ones: the fixed-buffer PQ codebook
    * ([[pqCodebookProdOn]]) and the native scan-side packed assignment
    * ([[graft.functions.PqAssign]]). */
  def buildLshIndexProd(spark: SparkSession, dir: String, indexDir: String,
      tableName: String, numBuckets: Int = 32,
      planesOverride: Option[Int] = None,
      concentration: Option[Double] = None): LshHandle = {
    import spark.implicits._
    beginLshRebuild(spark, indexDir)
    val nVec = Tables.embeddings(spark, dir).count()
    val numPlanes = planesOverride.getOrElse(planesFor(nVec))
    val cbArr = pqCodebookProdOn(
      Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev")))
    cbArr.zipWithIndex.flatMap { case (codes, m) =>
      codes.zipWithIndex.map { case (cv, code) => (m, code.toLong, cv.toSeq) }
    }.toSeq.toDF("m", "code", "cv")
      .coalesce(1) // ≤ PqM·PqK rows — one file, one write task (r17)
      .write.mode("overwrite").parquet(s"$indexDir/codebook.parquet")
    val pq = graft.functions.VectorFunctions
      .pq_assign(col("embedding"), cbArr, PqS)
    // one encode pass: the scan-side packed code rides the corpus
    // projection — no separate frame, no join-back by vec_id (r17)
    val enc = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dvec.as("ev"), pq.getField("packed").as("b_code"))
    writeLshPostings(spark, enc, numPlanes, indexDir, tableName,
      numBuckets)
    writeLshArtifactMeta(spark, indexDir, numPlanes, nVec, tableName,
      numBuckets, concentration)
    // the trained cbArr equals the artifact's round-trip (doubles
    // survive parquet bit-exactly) — no read-back needed for the handle
    new LshHandle(indexDir, numPlanes, nVec, cbArr)
  }

  /** In-session handle to a just-built persisted LSH artifact's frozen
    * scalars: the artifact dir (saves the `DESCRIBE FORMATTED` table
    * lookup), the plane count + corpus size (saves the meta.parquet
    * head), and the ≤ PqM·PqK codebook (saves a re-read + collect).
    * Same contract as [[IvfPqHandle]]: never stored across calls, and
    * values are the artifact's own bit-exact round-trip, so a query
    * through the handle ≡ a query that re-reads the artifact. */
  private[operators] final class LshHandle(
      val indexDir: String, val numPlanes: Int, val nVectors: Long,
      val cbArr: Array[Array[Array[Double]]])

  /** Retire an existing LSH artifact's completeness marker (and its
    * stats twin) BEFORE a rebuild touches the version dir. meta commits
    * last, so for a FIRST build "meta exists = build finished" holds by
    * construction — but an in-place rebuild into an existing indexDir
    * already has a meta.parquet, and a crash between the postings
    * overwrite and the new meta write would otherwise leave new
    * postings paired with STALE meta (old num_planes/table_name) that
    * publish/resolve still treat as complete: a bucketExpr with the
    * stale plane count silently degrades recall. Deleting the marker
    * first restores the invariant — a mid-rebuild crash leaves an
    * INCOMPLETE artifact that [[resolveIndexAlias]] skips (the previous
    * version stays live, blue-green) and [[publishIndexVersion]]
    * refuses, never a torn one. */
  private[operators] def beginLshRebuild(spark: SparkSession,
      indexDir: String): Unit = {
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    ifs.deleteRecursive(ifs.child("meta.parquet"))
    ifs.deleteRecursive(ifs.child("_stats", "build.parquet"))
  }

  /** Commit an LSH build's metadata: the one-row `_stats/build.parquet`
    * (n_vectors + the corpus concentration when the builder has one —
    * the re-family path carries forward the measurement the verdict was
    * made on; a direct build stamps null and [[indexConcentration]]
    * reports None) and then, LAST, `meta.parquet` — the completeness
    * marker, stamping num_planes, the postings table name, and the
    * bucket count a later session needs to re-register the table
    * ([[lshTableOfVersion]]). The stats row is what lets
    * [[IndexAdvisor.adviseLiveIndex]] advise a DEPLOYED LSH version
    * (the way back to IVF-PQ as the corpus drifts) instead of being
    * blind to the family. */
  private def writeLshArtifactMeta(spark: SparkSession, indexDir: String,
      numPlanes: Int, nVec: Long, tableName: String, numBuckets: Int,
      concentration: Option[Double]): Unit = {
    spark.range(1).select(lit(nVec).as("n_vectors"),
        lit(concentration.map(Double.box).orNull)
          .cast("double").as("mean_cos"))
      .write.mode("overwrite").parquet(s"$indexDir/_stats/build.parquet")
    spark.range(1).select(lit(numPlanes).as("num_planes"),
        lit(nVec).as("n_vectors"), lit(tableName).as("table_name"),
        lit(numBuckets).as("num_buckets"))
      .write.mode("overwrite").parquet(s"$indexDir/meta.parquet")
  }

  /** Postings carry `bucket_rank` — each vector's position within its
    * bucket under the LCG(vec_id) ordering — so the per-bucket cap is a
    * QUERY-TIME knob (filter `bucket_rank <= cap`), not a build-time
    * decision: one artifact serves the uncapped query, the capped query
    * at any cap, and the probe expansion (which always reads all
    * postings — every vector queries regardless of cap). The rank
    * window's bucket shuffle coincides with the bucketed write's own
    * clustering, so stamping it is free at build. */
  private def writeLshPostings(spark: SparkSession, enc: DataFrame,
      numPlanes: Int, indexDir: String,
      tableName: String, numBuckets: Int): Unit = {
    val wB = Window.partitionBy(col("bucket")).orderBy(
      (lit(1103515245L) * col("vec_id") + lit(12345L)) % lit(2147483648L),
      col("vec_id"))
    // `enc` is (vec_id, ev, b_code) — the code already rides the corpus
    // projection (round 17: the former per-build join of a separate
    // packed frame is gone; production builds pass a pure scan)
    graft.sources.Layouts.writeBucketedOn(
      enc.select(col("vec_id"),
          bucketExpr(col("ev"), numPlanes).as("bucket"), col("b_code"))
        .withColumn("bucket_rank", row_number().over(wB).cast("long")),
      tableName, s"$indexDir/postings", Seq("bucket"), numBuckets)
    // a rebuild is a new index version: every source vector is
    // re-encoded live, so carrying the old erasure list forward would
    // delete rows the new artifact legitimately holds (same rule as
    // the IVF-PQ build's resetAppendLog). The rebuild is also the LSH
    // family's PHYSICAL purge — see [[deleteFromLshIndex]]. The reset
    // runs AFTER the new postings table commits: a crash mid-rebuild
    // then leaves the OLD postings live with the erasure list intact
    // (privacy-erased vectors stay erased — the failure direction that
    // matters), whereas a reset-first ordering had a crash window in
    // which the old postings survived with the tombstones already gone
    // and erased vectors resurfaced in query answers. The residual
    // window (crash between commit and reset) only OVER-subtracts: new
    // rows the stale list names stay hidden until the rebuild is
    // retried — conservative, never a resurrection.
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    ifs.deleteRecursive(ifs.child("tombstones.parquet"))
    ifs.deleteRecursive(ifs.child("_delete_log"))
  }

  /** Query a persisted LSH index: read (vec_id, bucket, b_code) from
    * the bucketed postings table, expand radius-2 probes, join probes
    * against the CLUSTERED postings scan (postings side exchange-free),
    * then the family's shared asymmetric-preselect + rerank tail.
    * Row-identical to [[annLshProd]] over the same corpus (buckets are
    * the same deterministic signature, the codebook round-trips
    * bit-exact), so the registry row replays [[annLshOracle]]
    * unchanged. */
  def annLshIndexed(spark: SparkSession, dir: String,
      tableName: String, bucketCap: Option[Long] = None,
      handle: Option[LshHandle] = None): DataFrame = {
    // artifact scalars from the caller's handle when the same call just
    // built the index — saves the DESCRIBE lookup, the meta head, and
    // the codebook re-read (round 18); values identical either way
    val indexDir = handle.map(_.indexDir)
      .getOrElse(lshIndexDirOf(spark, tableName))
    val numPlanes = handle.map(_.numPlanes)
      .getOrElse(spark.read.parquet(s"$indexDir/meta.parquet")
        .head().getAs[Int]("num_planes"))
    val cbArr = handle.map(_.cbArr).getOrElse(pqCodebookArrOf(
      spark.read.parquet(s"$indexDir/codebook.parquet")))
    val v = Tables.embeddings(spark, dir).select(col("vec_id"), dvec.as("ev"))
    // erasure parity with the IVF-PQ artifact: tombstoned vectors
    // neither query nor appear as neighbors — a broadcast anti-join on
    // each side of the candidate join (the erasure list is a trickle by
    // contract), applied at the postings read so dead rows never enter
    // the probe expansion; the broadcast join preserves the bucketed
    // scan's clustering, so the postings side stays exchange-free
    val tomb = tombstonesOf(spark, indexDir)
    val postings0 = spark.table(tableName)
    val postings = tomb.map(t =>
        postings0.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(postings0)
    val probes = postings.select(col("vec_id"), col("bucket"),
      explode(array(probeMasks(numPlanes)
        .map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
    // cap = a scan-side filter on the build-stamped bucket_rank: the
    // skew fuse costs nothing but a pushed predicate here, and the
    // bucketed scan stays exchange-free. bucket_rank is touched ONLY
    // when a cap is requested, so an artifact built before the rank
    // stamp existed still serves every uncapped query; a capped query
    // against such an artifact fails loudly with the remedy instead of
    // an unresolved-column error (or, worse, a silently uncapped
    // answer).
    val neighborCols = Seq(col("vec_id").as("neighbor_id"),
      col("bucket").as("nb"), col("b_code"))
    val neighborSide = bucketCap match {
      case None => postings.select(neighborCols: _*)
      case Some(cap) =>
        require(postings.columns.contains("bucket_rank"),
          s"postings table $tableName predates the build-stamped " +
            "bucket_rank column; rebuild the index (buildLshIndexProd) to " +
            "use bucketCap")
        postings.filter(col("bucket_rank") <= cap)
          .select(neighborCols: _*)
    }
    val candC = probes.as("x").join(neighborSide,
        col("probe") === col("nb") && col("x.vec_id") =!= col("neighbor_id"))
      .select(col("x.vec_id").as("vec_id"), col("x.bucket").as("bucket"),
        col("neighbor_id"), col("b_code"))
    lshRankTail(v, candC, cbArr)
  }

  /** The artifact dir backing a registered LSH postings table (stored as
    * the table's external location's parent). Resolved as a Hadoop
    * `Path`, not `java.nio.file` — a remote table location must yield a
    * remote artifact dir, and `Paths.get(URI)` throws outright on a
    * non-`file:` scheme. */
  private def lshIndexDirOf(spark: SparkSession, tableName: String): String =
    new org.apache.hadoop.fs.Path(java.net.URI.create(
      spark.sql(s"DESCRIBE FORMATTED $tableName")
        .filter(col("col_name") === "Location")
        .head().getString(1))).getParent.toString

  private def lshTableFor(dir: String, suffix: String): String =
    s"graft_lshidx_${indexProcessTag}_" +
      s"${java.lang.Integer.toHexString(dir.hashCode)}$suffix"

  /** Registry form `sim_ann_lsh_indexed`: build + query — ≡
    * [[annLshProd]], shares its DuckDB oracle. */
  def annLshIndexedProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshp")
    val table = lshTableFor(dir, "_lshp")
    val h = buildLshIndexProd(spark, dir, root, table)
    annLshIndexed(spark, dir, table, handle = Some(h))
  }

  /** Registry form `sim_ann_lsh_capped_indexed`: the persisted index
    * queried with the [[LshBucketCap]] knob — row-identical to
    * [[annLshCappedProd]] (the build-stamped `bucket_rank` is the same
    * LCG sample the in-query form computes), so it replays
    * [[annLshCappedOracle]] unchanged. The skew fuse on the artifact
    * path: candidate volume ≤ probes·cap via a pushed scan predicate,
    * postings side still exchange-free. */
  def annLshCappedIndexedProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshp")
    val table = lshTableFor(dir, "_lshp")
    val h = buildLshIndexProd(spark, dir, root, table)
    annLshIndexed(spark, dir, table, bucketCap = Some(LshBucketCap),
      handle = Some(h))
  }

  /** Registry form `sim_ann_lsh_index_delete`: LSH build on the FULL
    * corpus, erase every 10th-slot vector (vec_id % 10 = 5 — the
    * takedown-batch shape, same slice the IVF-PQ delete row uses), then
    * the standard indexed query: deleted vectors neither query nor
    * appear as neighbors, surviving ranks dense. */
  def annLshIndexDeleteProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshgdprp")
    val table = lshTableFor(dir, "_lshgdprp")
    val h = buildLshIndexProd(spark, dir, root, table)
    deleteFromLshIndex(spark,
      Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 5)
        .select(col("vec_id")), table, "erasure-1",
      indexDirHint = Some(h.indexDir))
    annLshIndexed(spark, dir, table, handle = Some(h))
  }

  /** One-row health summary of a persisted LSH index — the twin of
    * [[describeIndex]] for the bucket-join artifact. Reports the
    * bucket-CONCENTRATION numbers the frontier measured to decide this
    * family's economics (max bucket share and Σshare² — the skew that
    * blew the 10×/30× candidate volume; the per-query candidate
    * CEILING the [[LshBucketCap]] fuse enforces) WITHOUT turning them
    * into a recommendation: round 12 measured that analytic
    * candidate-count models mispredict the wall (SCALING.md round 12 —
    * the advisor built on them was rejected), so this reports the
    * measured skew and the frontier table is the interpretation. One
    * aggregation over the postings (24 B rows) + the tiny metadata
    * artifacts. */
  def describeLshIndex(spark: SparkSession, tableName: String): DataFrame = {
    val indexDir = lshIndexDirOf(spark, tableName)
    val numPlanes = spark.read.parquet(s"$indexDir/meta.parquet")
      .head().getAs[Int]("num_planes")
    val hist = spark.table(tableName)
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val a = hist.agg(
      sum(col("c")).as("n"),
      count(lit(1)).as("occupied"),
      max(col("c")).as("maxc"),
      sum(col("c") * col("c")).cast("double").as("cc")).head()
    val n = a.getAs[Long]("n")
    val tombs = tombstonesOf(spark, indexDir)
      .map(_.distinct().count()).getOrElse(0L)
    val probes = probeMasks(numPlanes).size
    spark.range(1).select(
      lit(n).as("n_vectors"),
      lit(numPlanes).as("planes"),
      lit(a.getAs[Long]("occupied")).as("buckets_occupied"),
      lit(1L << numPlanes).as("buckets_total"),
      (lit(a.getAs[Long]("maxc")).cast("double") / n)
        .as("max_bucket_share"),
      (lit(a.getAs[Double]("cc")) / (n.toDouble * n.toDouble))
        .as("sum_share_sq"),
      lit(probes).as("probes_per_query"),
      lit(probes.toLong * LshBucketCap).as("capped_candidate_bound"),
      lit(tombs).as("tombstoned_ids"))
  }

  /** Search a persisted LSH index with an EXTERNAL query set — the
    * search-service call shape on the bucket-join artifact (the IVF-PQ
    * twin is [[searchIvfPqIndex]]). `queries` is any (query_id, qev)
    * frame: each query is signed against the FROZEN planes (num_planes
    * from the artifact; the planes are deterministic), expands its
    * radius-2 probes, joins the CLUSTERED postings scan (postings side
    * exchange-free — only the 16 B probe rows move), ranks candidates
    * by the asymmetric decoded cosine against the frozen codebook, and
    * reranks the top [[LshPreK]] at full precision from the source
    * table. No self-exclusion: external queries are not corpus
    * members. */
  def searchLshIndex(spark: SparkSession, queries: DataFrame,
      dir: String, tableName: String,
      handle: Option[LshHandle] = None): DataFrame =
    searchLshIndexFrom(spark, queries, dir, tableName, None, LshRadius,
      handle)

  /** FILTERED search on the persisted LSH index — API parity with
    * [[searchIvfPqIndexFiltered]] (a user of either artifact gets the
    * same `WHERE lang = 'de' AND <ann>` call): restrict the neighbor
    * space to `allowed` (any single-column frame of corpus `vec_id`s)
    * with PRE-filtering semantics — the semi-join lands on the
    * candidates (|queries|·probes·occupancy rows, after the bucket
    * join, before ranking), so ranks are dense 1..k over allowed
    * neighbors and the postings side stays exchange-free. The same
    * recall caveat as the IVF twin applies (probes are chosen by
    * geometry, not metadata); the [[AutoRadius]] default COMPENSATES by
    * widening the multi-probe radius by the filter's inverse
    * selectivity ([[resolveLshRadius]]), degrading under heavy filters
    * to a PQ-coded scan of the allowed rows — the same
    * restore-the-budget rule (and the same graceful brute-force floor)
    * as the IVF twin's [[AutoProbes]] compensation. Pass an explicit
    * `radius` to pin the probe budget (the radius-pinned row replays
    * [[LshRadius]]). The dial is hash-gated at BOTH resolutions — the
    * brute floor (`sim_ann_lsh_search_filtered_auto`) and the r=4/16
    * mid-radius probe join ([[annLshSearchFilteredAutoMidProd]]). */
  def searchLshIndexFiltered(spark: SparkSession, queries: DataFrame,
      dir: String, tableName: String, allowed: DataFrame,
      radius: Int = AutoRadius, handle: Option[LshHandle] = None): DataFrame =
    searchLshIndexFrom(spark, queries, dir, tableName, Some(allowed), radius,
      handle)

  private def searchLshIndexFrom(spark: SparkSession, queries: DataFrame,
      dir: String, tableName: String,
      allowed: Option[DataFrame], radius: Int,
      handle: Option[LshHandle] = None): DataFrame = {
    // artifact scalars from the caller's handle when available — the
    // same reuse as [[annLshIndexed]]'s (round 18)
    val indexDir = handle.map(_.indexDir)
      .getOrElse(lshIndexDirOf(spark, tableName))
    lazy val meta = spark.read.parquet(s"$indexDir/meta.parquet")
    val numPlanes = handle.map(_.numPlanes)
      .getOrElse(meta.head().getAs[Int]("num_planes"))
    val r =
      if (radius != AutoRadius) radius
      else {
        // selectivity = |allowed| / index size; the size comes off the
        // build-stamped meta row (pre-n_vectors artifacts fall back to
        // one postings count — 24 B rows, not vectors)
        val indexSize = handle.map(_.nVectors).getOrElse {
          if (meta.columns.contains("n_vectors"))
            meta.head().getAs[Long]("n_vectors")
          else spark.table(tableName).count()
        }
        allowed match {
          case None => LshRadius
          case Some(a) =>
            resolveLshRadius(radius, numPlanes, a.count(), indexSize)
        }
      }
    val cbArr = handle.map(_.cbArr).getOrElse(pqCodebookArrOf(
      spark.read.parquet(s"$indexDir/codebook.parquet")))
    val corpus = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dvec.as("ev"))
    val q = queries.select(col("query_id"), col("qev"))
    // tombstoned vectors leave the search space at the postings read
    // (broadcast anti-join — erasure parity with [[searchIvfPqIndex]];
    // external queries are not corpus members, so only the neighbor
    // side needs thinning)
    val neighborSide0 = spark.table(tableName)
      .select(col("vec_id").as("neighbor_id"),
        col("bucket").as("nb"), col("b_code"))
    val neighborSide = tombstonesOf(spark, indexDir)
      .map(t => neighborSide0.join(
        broadcast(t.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti"))
      .getOrElse(neighborSide0)
    // when an AUTO-resolved radius's probe set covers most of the
    // bucket space, enumerating masks buys nothing — skip the probe
    // join and scan the (tombstone-thinned, allowed-restricted)
    // postings directly against a broadcast of the query ids: the
    // explicit brute-force-over-allowed floor the radius rule degrades
    // to. The postings side still never crosses the wire. Explicitly
    // pinned radii always probe (the oracle-gated rows replay the
    // probe-join algorithm verbatim at any plane count).
    val brute = radius == AutoRadius &&
      probeCountAt(numPlanes, r) * 2 >= (1L << numPlanes)
    val cand = if (brute) {
      val nb = allowed.map(a => neighborSide.join(
          a.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
          "left_semi"))
        .getOrElse(neighborSide)
      nb.crossJoin(broadcast(q.select(col("query_id"))))
        .select(col("query_id"), col("neighbor_id"), col("b_code"))
    } else {
      // Mask materialization strategy: a literal array()/explode()
      // keeps the probe expansion inside whole-stage codegen but puts
      // one Catalyst literal PER MASK in the plan — and an auto-
      // resolved radius can clear thousands-to-hundreds-of-thousands
      // of masks while staying below the brute threshold at production
      // plane counts (p=14 allows ~8k, p=20 ~500k at half of 2^p):
      // expression-tree and codegen size would blow up long before the
      // data does. Above a fixed literal budget
      // (`graft.lsh.literalMaskCap`, default 1024) the mask set joins
      // as a BROADCAST one-column table instead — same probe rows,
      // plan size O(1) in the mask count, 8 B mask rows the cheapest
      // broadcast in the engine. Both arms are row-identical
      // (`PersistedLshIndexSpec` pins it) and the mid-radius oracle
      // row replays the broadcast arm through the hash gate (r=4 of 16
      // planes = 2 517 masks).
      val masks = probeMasksR(numPlanes, r)
      val literalCap = spark.conf
        .get("graft.lsh.literalMaskCap", "1024").toInt
      val qb = q.withColumn("bucket", bucketExpr(col("qev"), numPlanes))
      val probes =
        if (masks.size <= literalCap)
          qb.select(col("query_id"), explode(array(masks
            .map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
        else {
          import spark.implicits._
          qb.crossJoin(broadcast(masks.toDF("mask")))
            .select(col("query_id"),
              col("bucket").bitwiseXOR(col("mask")).as("probe"))
        }
      val cand0 = probes.join(neighborSide, col("probe") === col("nb"))
        .select(col("query_id"), col("neighbor_id"), col("b_code"))
      // the metadata restriction applies to CANDIDATES, not postings —
      // same placement rationale as the IVF twin (candidates number
      // |queries|·probes·occupancy, orders below index scale)
      allowed.map(a => cand0.join(
          a.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
          "left_semi"))
        .getOrElse(cand0)
    }
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val pre = cand
      .join(q, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.pq_asymmetric_cosine(
          col("qev"), col("b_code"), cbArr, PqS).as("acos"))
      .withColumn("prernk", row_number().over(wPre))
      .filter(col("prernk") <= LshPreK)
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    (pre
      .join(q, "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("ev").as("b_ev")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qev"), col("b_ev")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= AnnK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("cosine")))
  }

  /** Registry form `sim_ann_lsh_search`: LSH build over the corpus, then
    * the external-query search with the registry's derived query set
    * ([[searchQuerySet]] — same set the IVF search row uses). */
  def annLshSearchProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshsp")
    val table = lshTableFor(dir, "_lshsp")
    val h = buildLshIndexProd(spark, dir, root, table)
    searchLshIndex(spark, searchQuerySet(spark, dir), dir, table,
      handle = Some(h))
  }

  /** Registry form `sim_ann_lsh_search_filtered`: LSH build, then the
    * external-query search restricted to German-language documents —
    * the same `WHERE lang = 'de' AND <ann>` slice the IVF-PQ filtered
    * row gates, on the bucket-join artifact. The radius is pinned to
    * the oracle's replay (the IVF filtered row pins nprobe the same
    * way); the AutoRadius dial is frontier-qualified. */
  def annLshSearchFilteredProd(spark: SparkSession,
      dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshsfp")
    val table = lshTableFor(dir, "_lshsfp")
    val h = buildLshIndexProd(spark, dir, root, table)
    searchLshIndexFiltered(spark, searchQuerySet(spark, dir), dir, table,
      allowedDeVectors(spark, dir), radius = LshRadius, handle = Some(h))
  }

  /** Registry form `sim_ann_lsh_search_filtered_auto`: the [[AutoRadius]]
    * dial end-to-end through the hash gate. At both gate scales the
    * `lang = 'de'` slice's selectivity resolves the radius to ALL planes
    * (sf0.01: p=4, target B(2)/0.2 = 55 > B(4); sf0.1: p=6, target 44 >
    * B(3)), so the search takes the brute-force-over-allowed path —
    * which is exactly SQL-expressible: every allowed posting is a
    * candidate, no probe pruning, then the standard PQ preselect and
    * exact rerank. The probe-join arm of the dial is qualified by the
    * frontier (recall 0.944/0.890 vs the IVF twin's 0.907/0.832 at
    * 1×/10×) and the exact-among-allowed unit spec. */
  def annLshSearchFilteredAutoProd(spark: SparkSession,
      dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshsfap")
    val table = lshTableFor(dir, "_lshsfap")
    val h = buildLshIndexProd(spark, dir, root, table)
    searchLshIndexFiltered(spark, searchQuerySet(spark, dir), dir, table,
      allowedDeVectors(spark, dir), handle = Some(h))
  }

  /** The pinned plane count of the MID-RADIUS auto-dial row: at the
    * gate scales the corpus-derived plane counts (p=4/6) resolve the
    * de-filter's selectivity straight past the brute threshold, so the
    * dial's PRIMARY operating regime — a radius strictly between
    * [[LshRadius]] and the brute floor — was frontier-measured but
    * never hash-gated. 16 planes puts the gate inside that regime at
    * every fixture scale (see [[annLshSearchFilteredAutoMidProd]]). */
  private[operators] val MidPlanes = 16

  /** Registry form `sim_ann_lsh_search_filtered_auto_mid`: the
    * [[AutoRadius]] dial's mid-radius regime through the hash gate.
    * The index builds with [[MidPlanes]]=16 hyperplanes (the
    * `planesOverride` a production deployment sizes by corpus scale),
    * and the `lang = 'de'` slice's selectivity ≈ 0.13–0.14 at every
    * fixture scale resolves the radius to exactly 4: the budget target
    * B(2)/sel ≈ 980–1030 falls between B(3)=697 and B(4)=2517, and
    * 2·B(4) ≪ 2^16 keeps the probe join (no brute floor). The 2 517
    * masks also exceed the 1 024 literal budget, so the row replays
    * the BROADCAST-mask arm — the plan shape production plane counts
    * actually take. The DuckDB oracle enumerates the identical mask
    * set (popcount ≤ 4 over 16 planes) and replays the probe join,
    * asymmetric preselect, and exact rerank verbatim. */
  def annLshSearchFilteredAutoMidProd(spark: SparkSession,
      dir: String): DataFrame = {
    val root = indexRootFor(dir, "_lshsfmp")
    val table = lshTableFor(dir, "_lshsfmp")
    val h = buildLshIndexProd(spark, dir, root, table,
      planesOverride = Some(MidPlanes))
    searchLshIndexFiltered(spark, searchQuerySet(spark, dir), dir, table,
      allowedDeVectors(spark, dir), handle = Some(h))
  }

  /** Oracle for [[annLshSearchProd]]: the identical algorithm replayed
    * monolithically — the [[annLshOracle]] corpus CTEs (planes, corpus
    * buckets, probe masks, PQ codebook + decode) plus the derived query
    * set signed against the same planes, probed at radius 2, candidates
    * from corpus buckets, asymmetric preselect, exact rerank. */
  lazy val annLshSearchOracle: String = lshSearchOracle(filtered = false)

  /** Oracle for [[annLshSearchFilteredProd]]: the search replay with the
    * metadata restriction applied at the candidate stage (qcand joins
    * `documents` on neighbor_id = doc_id with the language predicate),
    * mirroring [[annIvfPqIndexSearchFilteredOracle]]. */
  lazy val annLshSearchFilteredOracle: String =
    lshSearchOracle(filtered = true)

  /** Oracle for [[annLshSearchFilteredAutoProd]]: the AutoRadius dial's
    * resolved plan at gate scale — the brute-force-over-allowed floor.
    * Candidates are every allowed corpus vector (no probe pruning: the
    * selectivity-resolved radius covers the whole bucket space, so the
    * planes/buckets/masks CTEs drop out entirely), then the identical
    * asymmetric preselect and exact rerank as the probe-join replay. */
  lazy val annLshSearchFilteredAutoOracle: String =
    s"""WITH $vCte,
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |q AS (SELECT vec_id + 300000 AS query_id,
       |             [CASE WHEN i <= 4 THEN ev[i] + 0.05 ELSE ev[i] END
       |              for i in range(1, len(ev) + 1)] AS qev
       |      FROM v WHERE vec_id % 10 = 0),
       |qcand AS (SELECT q.query_id, b.vec_id AS neighbor_id
       |          FROM q
       |          CROSS JOIN v b
       |          JOIN documents dd
       |            ON b.vec_id = dd.doc_id AND dd.lang = 'de'),
       |qaq AS (SELECT c.query_id, c.neighbor_id,
       |               ${sqlCos("q.qev", "d.qv")} AS acos
       |        FROM qcand c
       |        JOIN q ON c.query_id = q.query_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |qpre AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY acos DESC, neighbor_id)
       |                    AS prernk
       |           FROM qaq)
       |         WHERE prernk <= $LshPreK),
       |qp AS (SELECT c.query_id, c.neighbor_id,
       |              ${sqlCos("q.qev", "b.ev")} AS cosine
       |       FROM qpre c
       |       JOIN q ON c.query_id = q.query_id
       |       JOIN v b ON c.neighbor_id = b.vec_id),
       |qr AS (SELECT query_id, neighbor_id, cosine,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
       |       FROM qp)
       |SELECT query_id, neighbor_id, rnk, cosine FROM qr WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** Oracle for [[annLshSearchFilteredAutoMidProd]]: the dial's resolved
    * MID-RADIUS plan replayed monolithically — 16 fixed hyperplanes
    * (no corpus-derived `np` CTE: the Spark side pins
    * `planesOverride = 16`), the radius-4 probe set enumerated as
    * every popcount ≤ 4 mask of the 16-bit bucket space (2 517 masks,
    * the exact [[probeMasksR]] set), then the identical candidate
    * join, metadata restriction, asymmetric preselect, and exact
    * rerank as the radius-2 replay. */
  lazy val annLshSearchFilteredAutoMidOracle: String =
    s"""WITH $vCte,
       |pw AS (SELECT p,
       |          [CAST((1103515245 * (p * $Dim + i - 1) + 12345) % 2147483648 AS DOUBLE)
       |             / 2147483648.0 - 0.5
       |           for i in range(1, $Dim + 1)] AS w
       |       FROM range(0, $MidPlanes) t(p)),
       |vb AS (SELECT v.vec_id,
       |              CAST(sum(CASE WHEN ${sqlDot("v.ev", "pw.w")} > 0
       |                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |       FROM v CROSS JOIN pw GROUP BY v.vec_id),
       |mk AS (SELECT CAST(m AS BIGINT) AS mask
       |       FROM range(0, ${1 << MidPlanes}) t(m)
       |       WHERE bit_count(CAST(m AS BIGINT)) <= 4),
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |q AS (SELECT vec_id + 300000 AS query_id,
       |             [CASE WHEN i <= 4 THEN ev[i] + 0.05 ELSE ev[i] END
       |              for i in range(1, len(ev) + 1)] AS qev
       |      FROM v WHERE vec_id % 10 = 0),
       |qb AS (SELECT q.query_id,
       |              CAST(sum(CASE WHEN ${sqlDot("q.qev", "pw.w")} > 0
       |                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |       FROM q CROSS JOIN pw GROUP BY q.query_id),
       |qpr AS (SELECT query_id, xor(bucket, mask) AS probe
       |        FROM qb CROSS JOIN mk),
       |qcand AS (SELECT a.query_id, b.vec_id AS neighbor_id
       |          FROM qpr a JOIN vb b ON a.probe = b.bucket
       |          JOIN documents dd
       |            ON b.vec_id = dd.doc_id AND dd.lang = 'de'),
       |qaq AS (SELECT c.query_id, c.neighbor_id,
       |               ${sqlCos("q.qev", "d.qv")} AS acos
       |        FROM qcand c
       |        JOIN q ON c.query_id = q.query_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |qpre AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY acos DESC, neighbor_id)
       |                    AS prernk
       |           FROM qaq)
       |         WHERE prernk <= $LshPreK),
       |qp AS (SELECT c.query_id, c.neighbor_id,
       |              ${sqlCos("q.qev", "b.ev")} AS cosine
       |       FROM qpre c
       |       JOIN q ON c.query_id = q.query_id
       |       JOIN v b ON c.neighbor_id = b.vec_id),
       |qr AS (SELECT query_id, neighbor_id, cosine,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
       |       FROM qp)
       |SELECT query_id, neighbor_id, rnk, cosine FROM qr WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin

  private def lshSearchOracle(filtered: Boolean): String = {
    val filterJoin = if (!filtered) ""
      else "\n          JOIN documents dd" +
        "\n            ON b.vec_id = dd.doc_id AND dd.lang = 'de'"
    s"""WITH $vCte,
       |${planesSql("embeddings")},
       |pw AS (SELECT p,
       |          [CAST((1103515245 * (p * $Dim + i - 1) + 12345) % 2147483648 AS DOUBLE)
       |             / 2147483648.0 - 0.5
       |           for i in range(1, $Dim + 1)] AS w
       |       FROM range(0, $MaxPlanes) t(p)
       |       WHERE p < (SELECT mp FROM np)),
       |vb AS (SELECT v.vec_id,
       |              CAST(sum(CASE WHEN ${sqlDot("v.ev", "pw.w")} > 0
       |                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |       FROM v CROSS JOIN pw GROUP BY v.vec_id),
       |mk AS (SELECT DISTINCT
       |              xor(CASE WHEN i = -1 THEN 0 ELSE 1 << i END,
       |                  CASE WHEN j = -1 THEN 0 ELSE 1 << j END) AS mask
       |       FROM range(-1, $MaxPlanes) t1(i), range(-1, $MaxPlanes) t2(j)
       |       WHERE i <= j AND i < (SELECT mp FROM np)
       |         AND j < (SELECT mp FROM np)),
       |$pqCtes,
       |dec AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS qv
       |        FROM pasg GROUP BY 1),
       |q AS (SELECT vec_id + 300000 AS query_id,
       |             [CASE WHEN i <= 4 THEN ev[i] + 0.05 ELSE ev[i] END
       |              for i in range(1, len(ev) + 1)] AS qev
       |      FROM v WHERE vec_id % 10 = 0),
       |qb AS (SELECT q.query_id,
       |              CAST(sum(CASE WHEN ${sqlDot("q.qev", "pw.w")} > 0
       |                            THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       |       FROM q CROSS JOIN pw GROUP BY q.query_id),
       |qpr AS (SELECT query_id, xor(bucket, CAST(mask AS BIGINT)) AS probe
       |        FROM qb CROSS JOIN mk),
       |qcand AS (SELECT a.query_id, b.vec_id AS neighbor_id
       |          FROM qpr a JOIN vb b ON a.probe = b.bucket$filterJoin),
       |qaq AS (SELECT c.query_id, c.neighbor_id,
       |               ${sqlCos("q.qev", "d.qv")} AS acos
       |        FROM qcand c
       |        JOIN q ON c.query_id = q.query_id
       |        JOIN dec d ON c.neighbor_id = d.vec_id),
       |qpre AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY acos DESC, neighbor_id)
       |                    AS prernk
       |           FROM qaq)
       |         WHERE prernk <= $LshPreK),
       |qp AS (SELECT c.query_id, c.neighbor_id,
       |              ${sqlCos("q.qev", "b.ev")} AS cosine
       |       FROM qpre c
       |       JOIN q ON c.query_id = q.query_id
       |       JOIN v b ON c.neighbor_id = b.vec_id),
       |qr AS (SELECT query_id, neighbor_id, cosine,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cosine DESC, neighbor_id) AS rnk
       |       FROM qp)
       |SELECT query_id, neighbor_id, rnk, cosine FROM qr WHERE rnk <= $AnnK
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  private val benchLshRoots =
    new java.util.concurrent.ConcurrentHashMap[String, (String, LshHandle)]()

  /** Bench-only row `sim_ann_lsh_index_query`: the LSH query against a
    * per-process CACHED bucketed artifact — the exchange-free-postings
    * steady state (the oracle-gated `sim_ann_lsh_indexed` row rebuilds
    * per call so the gate exercises build + clustered read + query). */
  def annLshIndexQueryBench(spark: SparkSession, dir: String): DataFrame = {
    val (table, h) = benchLshRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_lshb")
      val t = lshTableFor(d, "_lshb")
      (t, buildLshIndexProd(spark, d, r, t))
    })
    annLshIndexed(spark, dir, table, handle = Some(h))
  }

  /** Steady-state CAPPED warm query — the same cached artifact as
    * [[annLshIndexQueryBench]] (the cap is a query-time knob on
    * `bucket_rank`, not a separate build), so the two rows isolate
    * exactly what the skew fuse buys on the row that measured the
    * family's 50.9×-at-30× candidate-volume blowup. */
  def annLshCappedIndexQueryBench(spark: SparkSession,
      dir: String): DataFrame = {
    val (table, h) = benchLshRoots.computeIfAbsent(dir, d => {
      val r = indexRootFor(d, "_lshb")
      val t = lshTableFor(d, "_lshb")
      (t, buildLshIndexProd(spark, d, r, t))
    })
    annLshIndexed(spark, dir, table, bucketCap = Some(LshBucketCap),
      handle = Some(h))
  }

  /** Registry form `sim_ann_ivfpq_indexed`: build + query — ≡
    * [[annIvfPqProd]], shares its DuckDB oracle. */
  def annIvfPqIndexedProd(spark: SparkSession, dir: String): DataFrame = {
    val root = indexRootFor(dir, "_prod")
    val h = buildIvfPqIndexProd(spark, dir, root)
    annIvfPqIndexed(spark, dir, root, handle = Some(h))
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_cosine_neardup" -> (cosineNearDup _),
    "sim_ann_lsh" -> (annLshProd _),
    "sim_ann_lsh_capped" -> (annLshCappedProd _),
    "sim_ann_ivf" -> (annIvfProd _),
    "sim_neardup_lsh" -> (nearDupLshProd _),
    "dedup_semantic" -> (semanticDedupProd _),
    "sim_centroid_by_lang" -> (centroidByLangProd _),
    "sim_quantize_sq" -> (quantizeSqProd _),
    "sim_ann_ivf_sq" -> (annIvfSqProd _),
    "sim_quantize_pq" -> (quantizePqProd _),
    "sim_ann_ivfpq" -> (annIvfPqProd _),
    "sim_ann_ivfpq_indexed" -> (annIvfPqIndexedProd _),
    "sim_ann_lsh_indexed" -> (annLshIndexedProd _),
    "sim_ann_lsh_capped_indexed" -> (annLshCappedIndexedProd _),
    "sim_ann_lsh_search" -> (annLshSearchProd _),
    "sim_ann_lsh_search_filtered" -> (annLshSearchFilteredProd _),
    "sim_ann_lsh_search_filtered_auto" -> (annLshSearchFilteredAutoProd _),
    "sim_ann_lsh_search_filtered_auto_mid" ->
      (annLshSearchFilteredAutoMidProd _),
    "sim_ann_lsh_index_delete" -> (annLshIndexDeleteProd _),
    "sim_ann_index_delta" -> (annIvfPqIndexDeltaProd _),
    "sim_ann_index_search" -> (annIvfPqIndexSearchProd _),
    "sim_ann_index_delete" -> (annIvfPqIndexDeleteProd _),
    "sim_ann_index_search_filtered" -> (annIvfPqIndexSearchFilteredProd _))

  val oracles: Map[String, String] = Map(
    "sim_cosine_topk" -> cosineTopKOracle,
    "sim_cosine_neardup" -> cosineNearDupOracle,
    "sim_ann_lsh" -> annLshOracle,
    "sim_ann_lsh_capped" -> annLshCappedOracle,
    "sim_ann_ivf" -> annIvfOracle,
    "sim_neardup_lsh" -> nearDupLshOracle,
    "dedup_semantic" -> semanticDedupOracle,
    "sim_centroid_by_lang" -> centroidByLangOracle,
    "sim_quantize_sq" -> quantizeSqOracle,
    "sim_ann_ivf_sq" -> annIvfSqOracle,
    "sim_quantize_pq" -> quantizePqOracle,
    "sim_ann_ivfpq" -> annIvfPqOracle,
    // a persisted index reproduces the in-query form over the same
    // corpus row for row (artifacts round-trip through parquet
    // bit-exactly), so the replays are identical
    "sim_ann_ivfpq_indexed" -> annIvfPqOracle,
    "sim_ann_lsh_indexed" -> annLshOracle,
    "sim_ann_lsh_capped_indexed" -> annLshCappedOracle,
    "sim_ann_lsh_search" -> annLshSearchOracle,
    "sim_ann_lsh_search_filtered" -> annLshSearchFilteredOracle,
    "sim_ann_lsh_search_filtered_auto" -> annLshSearchFilteredAutoOracle,
    "sim_ann_lsh_search_filtered_auto_mid" ->
      annLshSearchFilteredAutoMidOracle,
    "sim_ann_lsh_index_delete" -> annLshIndexDeleteOracle,
    "sim_ann_index_delta" -> annIvfPqIndexDeltaOracle,
    "sim_ann_index_search" -> annIvfPqIndexSearchOracle,
    "sim_ann_index_delete" -> annIvfPqIndexDeleteOracle,
    "sim_ann_index_search_filtered" -> annIvfPqIndexSearchFilteredOracle)
}
