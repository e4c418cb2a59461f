package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.TestSpark

/** The persisted LSH index (query-throughput artifact): the build must
  * reproduce the in-query [[Similarity.annLshProd]] row for row
  * after its parquet/bucketed-table round trip, the postings side of
  * the candidate join must read the bucketed layout EXCHANGE-FREE (the
  * whole point — the in-query form shuffles the postings every call),
  * and the artifact must carry only 24 B posting rows, never
  * embeddings. */
class PersistedLshIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4))).toSet

  test("querying the persisted exact LSH index reproduces annLsh row for row") {
    val indexed = rows(Similarity.annLshIndexedProd(spark, dir))
    val direct = rows(Similarity.annLshProd(spark, dir))
    assert(direct.nonEmpty)
    assert(indexed == direct)
  }

  test("the bucket_rank cap knob reproduces the in-query capped form row for row") {
    // same artifact, capped query: the build-stamped LCG rank must select
    // the SAME per-bucket sample the in-query capped form computes
    val indexed = rows(Similarity.annLshCappedIndexedProd(spark, dir))
    val direct = rows(Similarity.annLshCappedProd(spark, dir))
    assert(direct.nonEmpty)
    assert(indexed == direct)
    // and the knob genuinely changes the result at this fixture's skew
    assert(indexed != rows(Similarity.annLshIndexedProd(spark, dir)))
  }

  test("a pre-bucket_rank artifact serves uncapped queries; capped fails loudly") {
    // artifacts written before the rank stamp existed lack the
    // bucket_rank column: every uncapped query must keep working
    // unchanged (no unresolved-column error), and a capped query must
    // name the remedy instead of silently serving the uncapped answer
    val root = java.nio.file.Files.createTempDirectory("graft_lshold")
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val newT = s"graft_lshrank_new_$tag"
    val oldT = s"graft_lshrank_old_$tag"
    try {
      Similarity.buildLshIndexProd(spark, dir, s"$root/new", newT)
      spark.read.parquet(s"$root/new/meta.parquet")
        .write.parquet(s"$root/old/meta.parquet")
      spark.read.parquet(s"$root/new/codebook.parquet")
        .write.parquet(s"$root/old/codebook.parquet")
      graft.sources.Layouts.writeBucketedOn(
        spark.table(newT).drop("bucket_rank"), oldT, s"$root/old/postings",
        Seq("bucket"), 32)
      val direct = rows(Similarity.annLshProd(spark, dir))
      assert(rows(Similarity.annLshIndexed(spark, dir, oldT)) == direct,
        "uncapped query against a rank-less artifact diverged (or failed)")
      val err = intercept[IllegalArgumentException] {
        Similarity.annLshIndexed(spark, dir, oldT, bucketCap = Some(4L))
      }
      assert(err.getMessage.contains("bucket_rank"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $newT")
      spark.sql(s"DROP TABLE IF EXISTS $oldT")
      graft.streaming.StreamingStaging.deleteRecursively(root)
    }
  }

  test("LSH erasure: deleted vectors vanish, retry is no-op, rebuild purges") {
    val root = java.nio.file.Files.createTempDirectory("graft_lshdel")
    val t = s"graft_lshdel_${java.lang.Long.toHexString(System.nanoTime())}"
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildLshIndexProd(spark, dir, s"$root/idx", t)
      val before = rows(Similarity.annLshIndexed(spark, dir, t))
      assert(before.exists(_._1 % 10 == 5) && before.exists(_._2 % 10 == 5))
      val ids = e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      Similarity.deleteFromLshIndex(spark, ids, t, "erasure-1")
      val after = rows(Similarity.annLshIndexed(spark, dir, t))
      assert(after.nonEmpty)
      // deleted ids neither query nor appear as neighbors; survivors'
      // ranks stay dense over the thinned space
      assert(after.forall(r => r._1 % 10 != 5 && r._2 % 10 != 5))
      after.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.map(_._4).toSeq.sorted == (1L to rs.size).toSeq,
          s"query $q has non-dense ranks after LSH delete")
      }
      // the external search stops serving erased neighbors too
      val qs = e.filter(col("vec_id") % 10 === 5).limit(5)
        .select((col("vec_id") + 900000L).as("query_id"),
          col("embedding").cast("array<double>").as("qev"))
      val served = Similarity.searchLshIndex(spark, qs, dir, t)
        .select(col("neighbor_id")).collect().map(_.getLong(0))
      assert(served.nonEmpty && served.forall(_ % 10 != 5),
        "external LSH search still serves tombstoned vectors")
      // retried batch: the answer is unchanged (commit-log idempotency)
      Similarity.deleteFromLshIndex(spark, ids, t, "erasure-1")
      assert(rows(Similarity.annLshIndexed(spark, dir, t)) == after)
      // the LSH family's physical purge is the rebuild: a fresh build of
      // the same artifact resets the erasure list (the new version
      // re-encodes whatever source it was given)
      Similarity.buildLshIndexProd(spark, dir, s"$root/idx", t)
      assert(rows(Similarity.annLshIndexed(spark, dir, t)) == before,
        "rebuild carried the old erasure list into the new version")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.streaming.StreamingStaging.deleteRecursively(root)
    }
  }

  test("the candidate join's postings side is exchange-free (bucketed scan)") {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // at 100 TB nothing broadcasts: plan every join exchange-backed, so
    // the count below compares what each form moves through its joins
    // (at fixture size both forms broadcast every join and tie)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val indexed = Similarity.annLshIndexedProd(spark, dir)
      val inQuery = Similarity.annLshProd(spark, dir)
      val iPlan = indexed.queryExecution.executedPlan.toString
      val qPlan = inQuery.queryExecution.executedPlan.toString
      // the postings scan is a bucketed read...
      assert(iPlan.contains("Bucketed: true"), iPlan)
      // ...and the probe side's shuffle is the only NEW exchange the big
      // join needs: the persisted form's total shuffle count drops below
      // the in-query form's (which moves the postings through its
      // candidate join and re-attaches the codes with a second join)
      val iShuffles = graft.PlanAudit.shuffleCount(iPlan)
      val qShuffles = graft.PlanAudit.shuffleCount(qPlan)
      assert(iShuffles < qShuffles,
        s"indexed=$iShuffles !< in-query=$qShuffles\n$iPlan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
    }
  }

  test("external-query search retrieves the source vector for nearly every query") {
    // same derived query set as the IVF search row: every 10th corpus
    // vector, slightly moved (cosine to its source ≈ 0.999). Unlike the
    // IVF probe (8 of √n cells, which in practice always covers the
    // source's cell), the LSH probe is EXACT-radius-2: a perturbation
    // that flips ≥3 sign bits hides the source bucket from the probe
    // set by construction — so the contract is a high floor, not 100%.
    // Exactness of the whole algorithm is the DuckDB oracle's job
    // (sim_ann_lsh_search hash-gates every candidate/rank).
    val top1 = Similarity.annLshSearchProd(spark, dir)
      .filter(col("rnk") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nQueries = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 0).count()
    assert(top1.nonEmpty)
    val hit = top1.count { case (qid, nid) => nid == qid - 300000L }
    val rate = hit.toDouble / nQueries
    info(f"source-vector rank-1 retrieval: $hit/$nQueries ($rate%.3f)")
    assert(rate >= 0.80,
      f"rank-1 source retrieval $rate%.3f below the 0.80 floor")
  }

  test("filtered LSH search: only allowed neighbors, dense ranks, de source at 1") {
    // API parity with the IVF-PQ artifact's filtered search — same
    // pre-filter semantics, same registry slice (documents.lang = 'de')
    val res = Similarity.annLshSearchFilteredProd(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.nonEmpty)
    val allowed = graft.sources.Tables.documents(spark, dir)
      .filter(col("lang") === "de").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(allowed.nonEmpty)
    res.foreach { case (q, n, _) =>
      assert(allowed.contains(n), s"query $q returned non-'de' neighbor $n")
    }
    // PRE-filter semantics: ranks dense 1..k per query
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1L to rs.size).toSeq,
        s"query $q has non-dense filtered ranks")
    }
    // a query whose German source vector lands in the probe set must
    // rank it first (bucket-identical after the small perturbation;
    // radius-2 probing makes a miss possible by construction, so gate
    // on presence rather than asserting universal retrieval)
    val top1 = res.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    val deSourceHits = res.map(_._1).distinct
      .filter(q => allowed.contains(q - 300000L))
      .count(q => top1.get(q).contains(q - 300000L))
    assert(deSourceHits > 0, "no German-source query retrieved its source")
  }

  test("describeLshIndex reports the measured bucket concentration") {
    val root = java.nio.file.Files.createTempDirectory("graft_lshdesc")
    val t = s"graft_lshdesc_${java.lang.Long.toHexString(System.nanoTime())}"
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildLshIndexProd(spark, dir, s"$root/idx", t)
      val ids = e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      Similarity.deleteFromLshIndex(spark, ids, t, "erasure-1")
      val row = Similarity.describeLshIndex(spark, t).head()
      val n = e.count()
      assert(row.getAs[Long]("n_vectors") == n) // postings keep the bytes
      assert(row.getAs[Int]("planes") == 4)     // planesFor: 500 ≤ 50·2^4
      val occupied = row.getAs[Long]("buckets_occupied")
      assert(occupied > 0 && occupied <= row.getAs[Long]("buckets_total"))
      val maxShare = row.getAs[Double]("max_bucket_share")
      val ss = row.getAs[Double]("sum_share_sq")
      // concentration bounds: uniform ≤ Σshare² ≤ max-share ≤ 1, and
      // the fixture is measurably NON-uniform (the skew the frontier's
      // selection evidence hangs on)
      assert(ss >= 1.0 / row.getAs[Long]("buckets_total"))
      assert(maxShare >= ss && maxShare <= 1.0)
      assert(ss > 1.2 / row.getAs[Long]("buckets_total"),
        f"fixture buckets unexpectedly uniform: ss=$ss%.5f")
      assert(row.getAs[Int]("probes_per_query") == 1 + 4 + 6)
      assert(row.getAs[Long]("capped_candidate_bound") ==
        11L * Similarity.LshBucketCap)
      assert(row.getAs[Long]("tombstoned_ids") == ids.count())
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.streaming.StreamingStaging.deleteRecursively(root)
    }
  }

  test("the postings artifact carries codes, never embeddings") {
    // build into a known root so the table/artifact pair is inspectable
    val root = java.nio.file.Files.createTempDirectory("graft_lshidx_spec")
    try {
      Similarity.buildLshIndexProd(spark, dir, root.toString,
        "graft_lshidx_spec_table")
      val postings = spark.table("graft_lshidx_spec_table")
      assert(postings.schema.fieldNames.toSet ==
        Set("vec_id", "bucket", "b_code", "bucket_rank"))
      postings.schema.fields.foreach { f =>
        assert(!f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"postings column ${f.name} is an array — the ~32 B-row claim broke")
      }
      // every corpus vector is present exactly once
      val n = graft.sources.Tables.embeddings(spark, dir).count()
      assert(postings.count() == n)
      assert(postings.select(col("vec_id")).distinct().count() == n)
      // bucket_rank is a 1..|bucket| permutation per bucket — the cap
      // knob's contract: filtering rank <= c keeps exactly min(c, size)
      // postings per bucket, and ranks round-trip the bucketed write
      val badRank = postings.groupBy(col("bucket"))
        .agg(org.apache.spark.sql.functions.count("*").as("sz"),
          org.apache.spark.sql.functions.max(col("bucket_rank")).as("mx"),
          org.apache.spark.sql.functions.countDistinct(col("bucket_rank"))
            .as("d"))
        .filter(col("mx") =!= col("sz") || col("d") =!= col("sz"))
        .count()
      assert(badRank == 0L, "bucket_rank is not a per-bucket permutation")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lshidx_spec_table")
      graft.streaming.StreamingStaging.deleteRecursively(root)
    }
  }

  test("filtered-search AutoRadius: restore-the-budget arithmetic") {
    // explicit radii pass through untouched (the oracle rows pin 2)
    assert(Similarity.resolveLshRadius(3, 11, 10, 1000) == 3)
    assert(Similarity.resolveLshRadius(2, 11, 1, 1000000) == 2)
    // selectivity 1 (no thinning): the unfiltered radius stands
    assert(Similarity.resolveLshRadius(Similarity.AutoRadius,
      11, 1000, 1000) == 2)
    // a 10% filter at p=11: B(2)=67 → target 670 expected-candidate
    // budget; B(4)=562 still short, B(5)=1024 is the first notch past
    assert(Similarity.probeCountAt(11, 2) == 67)
    assert(Similarity.probeCountAt(11, 4) == 562)
    assert(Similarity.probeCountAt(11, 5) == 1024)
    assert(Similarity.resolveLshRadius(Similarity.AutoRadius,
      11, 100, 1000) == 5)
    // heavy filter: capped at all planes — the brute-force floor
    assert(Similarity.resolveLshRadius(Similarity.AutoRadius,
      11, 1, 100000) == 11)
  }

  test("probeMasksR: every popcount-≤r mask exactly once; radius 2 = the fixed set") {
    val r2 = Similarity.probeMasksR(6, 2)
    assert(r2.length == r2.distinct.length)
    assert(r2.toSet == (0L until 64L)
      .filter(m => java.lang.Long.bitCount(m) <= 2).toSet)
    val r4 = Similarity.probeMasksR(6, 4)
    assert(r4.length == r4.distinct.length)
    assert(r4.length.toLong == Similarity.probeCountAt(6, 4))
    assert(r4.forall(m => java.lang.Long.bitCount(m) <= 4))
  }

  test("mid-radius auto dial: 16 planes resolve the de slice to radius 4; mask arms row-identical") {
    // the registry row's arithmetic (`sim_ann_lsh_search_filtered_auto_mid`):
    // at MidPlanes=16 the de slice's sel ≈ 0.14 targets B(2)/sel ≈ 970–980
    // probes, strictly between B(3) and B(4) — the dial's PRIMARY
    // operating regime, resolved radius strictly between the pinned 2
    // and the brute floor
    assert(Similarity.probeCountAt(16, 2) == 137)
    assert(Similarity.probeCountAt(16, 3) == 697)
    assert(Similarity.probeCountAt(16, 4) == 2517)
    val e = graft.sources.Tables.embeddings(spark, dir)
    val n = e.count()
    val de = graft.sources.Tables.documents(spark, dir)
      .filter(col("lang") === "de").count()
    val resolved = Similarity.resolveLshRadius(Similarity.AutoRadius,
      Similarity.MidPlanes, de, n)
    assert(resolved == 4,
      s"the gate fixture must resolve the MID radius: r=$resolved " +
        s"(de=$de, n=$n)")
    assert(resolved > 2 &&
      Similarity.probeCountAt(16, resolved) * 2 < (1L << 16),
      "resolved radius must sit strictly between the pinned radius " +
        "and the brute threshold")
    // end-to-end: the auto search (2 517 masks > the 1 024 literal
    // budget → BROADCAST-mask arm) is row-identical to the explicitly
    // pinned radius-4 search run on the LITERAL arm (budget raised) —
    // the dial and both mask strategies agree
    val root = java.nio.file.Files.createTempDirectory("graft_lshmid")
    val t = s"graft_lshmid_${java.lang.Long.toHexString(System.nanoTime())}"
    try {
      Similarity.buildLshIndexProd(spark, dir, s"$root/idx", t,
        planesOverride = Some(Similarity.MidPlanes))
      val allowed = graft.sources.Tables.documents(spark, dir)
        .filter(col("lang") === "de").select(col("doc_id").as("vec_id"))
      val qs = e.filter(col("vec_id") % 100 === 7)
        .select((col("vec_id") + 900000L).as("query_id"),
          col("embedding").cast("array<double>").as("qev"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val auto = rows(
        Similarity.searchLshIndexFiltered(spark, qs, dir, t, allowed))
      spark.conf.set("graft.lsh.literalMaskCap", "100000")
      val literalR4 =
        try rows(Similarity.searchLshIndexFiltered(spark, qs, dir, t,
          allowed, radius = 4))
        finally spark.conf.unset("graft.lsh.literalMaskCap")
      assert(auto.nonEmpty)
      assert(auto == literalR4,
        "broadcast-mask auto search diverged from the literal-arm " +
          "radius-4 search")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.streaming.StreamingStaging.deleteRecursively(root)
    }
  }

  test("AutoRadius under a heavy filter: exact top-3 among allowed, dense ranks") {
    // 20 of 500 ids allowed (sel 4%): the resolved radius covers the
    // whole 2^4 bucket space, so the search degrades to the PQ-coded
    // scan of the allowed rows — and with |allowed| below the preselect
    // width the answer must be EXACTLY the full-precision top-3 among
    // the allowed set, the brute-force floor made checkable
    val root = java.nio.file.Files.createTempDirectory("graft_lshauto")
    val t = s"graft_lshauto_${java.lang.Long.toHexString(System.nanoTime())}"
    try {
      Similarity.buildLshIndexProd(spark, dir, s"$root/idx", t)
      val e = graft.sources.Tables.embeddings(spark, dir)
      val allowed = e.filter(col("vec_id") % 25 === 0).select(col("vec_id"))
      val qs = e.filter(col("vec_id") % 100 === 7)
        .select((col("vec_id") + 900000L).as("query_id"),
          col("embedding").cast("array<double>").as("qev"))
      val got = Similarity.searchLshIndexFiltered(spark, qs, dir, t, allowed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.nonEmpty)
      // dense ranks 1..3 per query, neighbors all allowed
      got.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.map(_._3).sorted.toSeq == (1L to rs.size).toSeq)
        assert(rs.forall(_._2 % 25 == 0))
      }
      // exact ground truth among allowed, computed at full precision
      val av = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("bev"))
      val exact = qs.crossJoin(av)
        .select(col("query_id"), col("neighbor_id"),
          Similarity.cosine(col("qev"), col("bev")).as("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(x => (-x._3, x._2)).take(3).map(_._2).toSeq
        }
      got.groupBy(_._1).foreach { case (q, rs) =>
        val mine = rs.sortBy(_._3).map(_._2).toSeq
        assert(mine == exact(q),
          s"query $q: got $mine, exact-among-allowed ${exact(q)}")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.streaming.StreamingStaging.deleteRecursively(root)
    }
  }

  test("rebuild marker invariant: an in-place rebuild retires meta first, so a mid-rebuild crash leaves an incomplete artifact, never stale meta") {
    val alias = java.nio.file.Files.createTempDirectory("graft_lsh_mk")
    try {
      // two published LSH versions behind one alias — v2 live
      Similarity.buildLshIndexProd(spark, dir, s"$alias/v1",
        "graft_test_marker_v1")
      Similarity.publishIndexVersion(spark, alias.toString, "v1")
      Similarity.buildLshIndexProd(spark, dir, s"$alias/v2",
        "graft_test_marker_v2")
      Similarity.publishIndexVersion(spark, alias.toString, "v2")
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v2")
      // an in-place REBUILD of v2 begins by retiring the completeness
      // marker (meta commits LAST — for a first build that makes "meta
      // exists = build finished" hold by construction, but a rebuild
      // already HAS meta, so a crash between the postings overwrite and
      // the new meta write used to leave new postings under stale meta:
      // old num_planes/table_name, silently degraded recall). Simulate
      // the crash right after the first step:
      Similarity.beginLshRebuild(spark, s"$alias/v2")
      // the torn artifact is INCOMPLETE, not stale-complete: resolution
      // falls back to the previous published version (blue-green) and
      // publish refuses it
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v1")
      intercept[IllegalArgumentException] {
        Similarity.publishIndexVersion(spark, alias.toString, "v2")
      }
      // the retried rebuild completes the artifact; the existing pointer
      // serves it again with no re-publish (the pointer never named an
      // incomplete artifact to a reader)
      Similarity.buildLshIndexProd(spark, dir, s"$alias/v2",
        "graft_test_marker_v2")
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v2")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_test_marker_v1")
      spark.sql("DROP TABLE IF EXISTS graft_test_marker_v2")
      graft.streaming.StreamingStaging.deleteRecursively(alias)
    }
  }
}
