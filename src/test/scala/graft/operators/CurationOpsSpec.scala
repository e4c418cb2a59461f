package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.StringFunctions

/** Behavioral specs for the round-6 curation operators: benchmark
  * decontamination, greedy sequence packing, the KMV distinct sketch and
  * the cross-source overlap matrix. Fixture-independent: each test builds
  * its own corpus so the semantics are pinned on constructed cases (the
  * oracle gate covers the fixture corpus).
  */
class CurationOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Writes a full-schema `documents.parquet` into a temp dir. */
  private def corpusDir(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_curation_corpus").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The operators' content bucket: poly_hash(text) mod 100. */
  private def bucketOf(t: String): Long =
    spark.range(1)
      .select((StringFunctions.poly_hash(lit(t)) % 100L).as("b"))
      .head().getLong(0)

  // --- decontamination -----------------------------------------------------

  test("decontaminate flags exactly the train docs sharing a test shingle") {
    // Deterministic corpus; find a doc the content split sends to TEST
    // (bucket >= 95), then craft a TRAIN doc (bucket < 90) that embeds one
    // of its word-3-grams, and a control train doc sharing nothing.
    val base = (0 until 400).map(i =>
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i")
    val testText = base.find(t => bucketOf(t) >= 95)
      .getOrElse(fail("no test-bucket doc in 400 candidates"))
    val shingle = testText.split(" ").take(3).mkString(" ") // a test 3-gram
    val dirty = (0 until 100).iterator
      .map(k => s"$shingle salt$k pepper$k")
      .find(t => bucketOf(t) < 90)
      .getOrElse(fail("no train-bucket contaminated candidate"))
    val clean = (0 until 100).iterator
      .map(k => s"papa$k quebec$k romeo$k sierra$k tango$k")
      .find(t => bucketOf(t) < 90)
      .getOrElse(fail("no train-bucket clean candidate"))
    val rows = base.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s1") } ++
      Seq((1000L, dirty, "en", "s1"), (1001L, clean, "en", "s1"))
    val out = TextAnalysis.decontaminate(spark, corpusDir(rows)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(1000L) && out(1000L) >= 1L)
    assert(!out.contains(1001L))
    // base docs never share shingles across i, so only the planted doc hits
    assert(out.keySet == Set(1000L))
  }

  test("decontaminate broadcasts the eval-side shingle set") {
    val rows = (0 until 30).map(i =>
      (i.toLong, s"kilo$i lima$i mike$i november$i oscar$i", "en", "s1"))
    val plan = TextAnalysis.decontaminate(spark, corpusDir(rows))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("bloom decontamination: same answer as exact, broadcast is the 1-row map") {
    // constructed corpus with known contamination (same build as the
    // exact-form test): the bloom prefilter + exact confirm must yield
    // the identical (doc_id, n_shared) set
    val base = (0 until 400).map(i =>
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i")
    val testText = base.find(t => bucketOf(t) >= 95)
      .getOrElse(fail("no test-bucket doc in 400 candidates"))
    val shingle = testText.split(" ").take(3).mkString(" ")
    val dirty = (0 until 100).iterator
      .map(k => s"$shingle salt$k pepper$k")
      .find(t => bucketOf(t) < 90)
      .getOrElse(fail("no train-bucket contaminated candidate"))
    val rows = base.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s1") } ++ Seq((1000L, dirty, "en", "s1"))
    val dir = corpusDir(rows)
    val exact = TextAnalysis.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = TextAnalysis.decontaminateBloom(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(bloom == exact)
    // the prefilter is a pure scan-side predicate on the bloom literal —
    // the ONLY join in the plan is the exact-confirm join of the
    // (few) survivors against the true shingle set
    val plan = TextAnalysis.decontaminateBloom(spark, dir)
      .queryExecution.executedPlan.toString
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)"
      .r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly 1 join (exact confirm), got $joins:\n$plan")
  }

  test("bloom prefilter never rejects a true test shingle (no false negatives)") {
    // every contaminated train doc must survive the prefilter — guaranteed
    // by construction (bloom has no false negatives); pin it by planting
    // MANY distinct contaminated docs and checking all are flagged
    val base = (0 until 400).map(i =>
      s"hotel$i india$i juliet$i kilo$i lima$i mike$i november$i")
    val testTexts = base.filter(t => bucketOf(t) >= 95)
    assert(testTexts.size >= 3, "fixture needs several test-bucket docs")
    val dirties = testTexts.zipWithIndex.flatMap { case (t, j) =>
      val s3 = t.split(" ").take(3).mkString(" ")
      (0 until 50).iterator.map(k => s"$s3 zulu${j}x$k yankee${j}x$k")
        .find(c => bucketOf(c) < 90).map(c => (2000L + j, c))
    }
    assert(dirties.size == testTexts.size)
    val rows = base.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s1") } ++
      dirties.map { case (id, t) => (id, t, "en", "s1") }
    val out = TextAnalysis.decontaminateBloom(spark, corpusDir(rows))
      .collect().map(r => r.getLong(0)).toSet
    assert(dirties.map(_._1).toSet.subsetOf(out))
  }

  // --- sequence packing ----------------------------------------------------

  test("seqPack is exact greedy concatenate-and-chunk per shard") {
    val rows = (0 until 200).map(i =>
      (i.toLong, (0 to i % 17).map(j => s"tok${i}_$j").mkString(" "), "en", "s1"))
    val dir = corpusDir(rows)
    val out = TextAnalysis.seqPack(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 200) // every doc packed exactly once
    // recompute the expected packing from first principles
    val hashed = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), StringFunctions.poly_hash(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = hashed.toSeq.groupBy { case (_, h, _) => h % 8 }.toSeq
      .flatMap { case (shard, docs) =>
        var cum = 0L
        docs.sortBy { case (id, h, _) => (h, id) }.map { case (id, _, n) =>
          val start = cum; cum += n
          (id, shard, n, start / 512L, start % 512L)
        }
      }.toSet
    assert(out.toSet == expected)
    assert(out.forall { case (_, _, _, _, off) => off >= 0 && off < 512 })
  }

  // --- KMV distinct sketch -------------------------------------------------

  test("KMV: exact below k, estimate within 2x above k, bounded-heap plan") {
    // en: ~300 distinct shingles (well above k=64); fr: a handful (below k)
    val en = (0 until 100).map(i =>
      (i.toLong, s"w$i w${i + 1} w${i + 2} w${i + 3} w${i + 4}", "en", "s1"))
    val fr = Seq((900L, "un deux trois quatre", "fr", "s1"),
      (901L, "cinq six sept huit", "fr", "s1"))
    val dir = corpusDir(en ++ fr)
    val out = TextAnalysis.distinctKmv(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // ground truth via an independent exact count
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), explode(StringFunctions.word_shingles(
        split(col("text"), " "), 3)).as("sh"))
      .select(col("lang"), StringFunctions.poly_hash(col("sh")).as("h"))
      .distinct().groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (frKept, _, frEst) = out("fr")
    assert(frKept == exact("fr") && frEst == frKept.toDouble) // below-k: exact
    val (enKept, _, enEst) = out("en")
    assert(enKept == 64L)
    assert(exact("en") > 64L)
    assert(enEst > exact("en") / 2.0 && enEst < exact("en") * 2.0)
    // under the registry's planning hooks (as Verify/Bench run it), the
    // per-language top-k runs on the bounded-heap operator, not a sort
    graft.plans.TopKPlanning.register(spark)
    try {
      val plan = TextAnalysis.distinctKmv(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"))
    } finally graft.plans.TopKPlanning.unregister(spark)
  }

  test("HLL: register accounting holds and the estimate lands within 4 sigma") {
    // the registers themselves are gated against the relational DuckDB
    // replay (sketch_distinct_hll, OracleGateSpec); here the estimate
    // lands within HLL's theoretical error band of the true distinct
    // count
    val dir = TestSpark.sfDir
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    val prod = rows(TextAnalysis.distinctHllProd(spark, dir))
    assert(prod.nonEmpty)
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), explode(StringFunctions.word_shingles(
        split(col("text"), " "), 3)).as("sh"))
      .select(col("lang"), StringFunctions.poly_hash(col("sh")).as("h"))
      .distinct().groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prod.keySet == exact.keySet)
    for ((lang, (nSet, vZero, _, est)) <- prod) {
      assert(nSet + vZero == 64L, s"$lang register accounting")
      // 1.04/√64 = 13% standard error; allow 4 sigma on the fixture
      val n = exact(lang).toDouble
      assert(est > n * 0.48 && est < n * 1.52,
        f"$lang: est $est%.1f vs exact $n%.0f outside 4-sigma band")
    }
    // one shuffle: the native register aggregate, no second pass
    val plan = TextAnalysis.distinctHllProd(spark, dir)
      .queryExecution.executedPlan.toString
    assert(graft.PlanAudit.shuffleCount(plan) == 1, plan)
  }

  // --- Count-Min heavy hitters ---------------------------------------------

  test("CMS heavy hitters: exact top-k candidates, estimate >= exact always") {
    // 'hot' appears 3x per doc over 40 docs (120), 'warm' 40, each wi once
    val rows = (0 until 40).map(i =>
      (i.toLong, s"hot hot hot warm w$i", "en", "s1"))
    val dir = corpusDir(rows)
    val out = TextAnalysis.heavyHittersCms(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 20)
    // the CMS one-sided error guarantee: never an underestimate
    assert(out.forall { case (_, exact, est) => est >= exact })
    val byTok = out.map { case (t, e, c) => t -> ((e, c)) }.toMap
    assert(byTok("hot")._1 == 120L && byTok("warm")._1 == 40L)
    // 42 distinct tokens over 4 rows of 256 buckets: the planted heavy
    // hitters are overwhelmingly collision-free in at least one row
    assert(byTok("hot")._2 == 120L)
    // candidate cut is deterministic: count desc, then token asc — the 18
    // singleton slots go to the lexicographically smallest w-tokens
    val w = out.map(_._1).filter(_.matches("w\\d+")).sorted.toSeq
    val expected = (0 until 40).map(i => s"w$i").sorted.take(18)
    assert(w == expected)
  }

  // --- target-mix resampler ------------------------------------------------

  test("mixResample caps thresholds at keep-all and downsamples heavy langs") {
    // 100 en / 10 fr: N=110, budget=55, desired=11 per lang →
    // thr_en = 11e6/100 = 110000 ppm; fr's 11e6/10 caps at 1e6 (keep all)
    val rows = (0 until 100).map(i => (i.toLong, s"en doc $i", "en", "s1")) ++
      (0 until 10).map(i => ((200 + i).toLong, s"fr doc $i", "fr", "s1"))
    val dir = corpusDir(rows)
    val out = TextAnalysis.mixResample(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val (enDocs, enThr, enSampled) = out("en")
    val (frDocs, frThr, frSampled) = out("fr")
    assert(enDocs == 100L && enThr == 110000L)
    assert(frDocs == 10L && frThr == 1000000L && frSampled == 10L)
    assert(enSampled <= enDocs && enSampled >= 0L)
  }

  // --- tf-idf characteristic terms -----------------------------------------

  test("tfidfTopk ranks rare repeated terms above corpus-wide ones") {
    // 'common' appears in all 4 docs (df=4, idf ratio 1); each doc i has
    // its own marker repeated 3x (df=1, idf ratio 4) → score 12 beats
    // common's tf (at most 2*4/4=2); filler fills out rank 2-3
    val rows = (0 until 4).map(i =>
      (i.toLong, s"common m$i m$i m$i f${i}a f${i}b common", "en", "s1"))
    val dir = corpusDir(rows)
    val out = TextAnalysis.tfidfTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(out.length == 12) // 3 per doc
    for (d <- 0 until 4) {
      val top = out.filter(t => t._1 == d && t._5 == 1L).head
      assert(top._2 == s"m$d" && top._3 == 3L && top._4 == 12.0)
      // 'common' (score 2·4/4 = 2) loses to the singleton fillers (4.0)
      assert(!out.exists(t => t._1 == d && t._2 == "common"))
    }
    // under the registry's planning hooks the per-doc top-3 runs on the
    // bounded-heap operator, not a per-group sort
    graft.plans.TopKPlanning.register(spark)
    try {
      val plan = TextAnalysis.tfidfTopk(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"))
    } finally graft.plans.TopKPlanning.unregister(spark)
  }

  // --- cross-source overlap matrix -----------------------------------------

  test("crossSource counts distinct shared texts per unordered source pair") {
    // docs 0..19: even → s1, odd → s2, all texts distinct EXCEPT doc 5
    // copies doc 4 (a natural s1/s2 dup). The operator itself plants a
    // 'mirror' source over docs 0 and 10 (doc_id % 10 == 0, both s1).
    val rows = (0 until 20).map { i =>
      val text = if (i == 5) "same text in two sources here now"
        else if (i == 4) "same text in two sources here now"
        else s"unique document number $i with its own words"
      (i.toLong, text, "en", if (i % 2 == 0) "s1" else "s2")
    }
    val out = Dedup.crossSource(spark, corpusDir(rows)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("mirror", "s1", 2L), ("s1", "s2", 1L)))
  }

  // --- line-level boilerplate removal --------------------------------------

  test("lineDedup strips planted boilerplate and frequent body lines only") {
    // Source "a": 6 docs whose first 8 words coincide (a shared body
    // line, df 6 >= 5) and whose tail words are unique (df 1). The
    // synthesized subscribe/copyright lines hit df 6 too. Only ids 12
    // and 15 carry the every-3rd `follow` line, so its df 2 stays UNDER
    // the threshold — it must survive. Source "b" has 2 docs: nothing
    // in it reaches df 5.
    val shared = "shared eight word line goes right here now"
    val rows =
      (10L to 15L).map(i =>
        (i, s"$shared uniq$i b c d e f g h", "en", "a")) ++
        Seq((20L, "lonely text one two three", "en", "b"),
          (21L, "other words four five six", "en", "b"))
    val out = TextAnalysis.lineDedup(spark, corpusDir(rows)).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    // df-6 header, shared body line and footer stripped; unique body kept
    assert(out(10L) == (("uniq10 b c d e f g h", 3L)))
    assert(out(11L) == (("uniq11 b c d e f g h", 3L)))
    // follow line (df 2) survives on the every-3rd docs
    assert(out(12L) == (("uniq12 b c d e f g h\nfollow a for more", 3L)))
    assert(out(15L) == (("uniq15 b c d e f g h\nfollow a for more", 3L)))
    // small source: nothing reaches the threshold, nothing removed
    assert(out(21L)._2 == 0L)
    assert(out(21L)._1 ==
      "subscribe to b weekly\nother words four five six\nfollow b for more\ncopyright b")
  }

  test("frequent-line keys cannot collide across sources") {
    import graft.functions.StripFrequentLines.key
    // with a naive separator these pairs collide, and a line frequent in
    // one source silently strips a RARE line in another; the line-first
    // '\n' key makes that impossible because no line can contain '\n'
    assert(key("cc news", "2024 all rights reserved") !=
      key("cc", "news 2024 all rights reserved"))
    assert(key("a", "b\nc") != key("a\nb", "c"))
  }

  test("bloom shingle filter skips null elements instead of NPEing") {
    import spark.implicits._
    val words = new Array[Long](graft.functions.BloomHashing.Words)
    java.util.Arrays.fill(words, -1L) // all bits set: everything "matches"
    val out = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("sh")
      .select(graft.functions.SketchScalarFunctions
        .bloom_shingle_filter(col("sh"), words).as("pass"))
      .head().getSeq[String](0)
    assert(out == Seq("a", "b"))
  }

  test("lineDedup driver cap and conf parse fail with the conf key named") {
    val dir = corpusDir((1L to 6L).map(i => (i, "same text every doc", "en", "s")))
    try {
      spark.conf.set("spark.graft.linededup.maxFrequent", "1")
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.lineDedup(spark, dir)
      }
      assert(e.getMessage.contains("spark.graft.linededup.maxFrequent"))
      spark.conf.set("spark.graft.linededup.maxFrequent", "not-a-number")
      val e2 = intercept[IllegalArgumentException] {
        TextAnalysis.lineDedup(spark, dir)
      }
      assert(e2.getMessage.contains("spark.graft.linededup.maxFrequent"))
    } finally spark.conf.unset("spark.graft.linededup.maxFrequent")
  }
}
