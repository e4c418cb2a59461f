package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.TestSpark

/** The vacuum-under-live-readers contract: a reader that resolved a
  * version BEFORE a vacuum must either complete against that version's
  * immutable files (its lease makes the vacuum provably skip the
  * directory) or never start on a deleted one (the pin protocol
  * re-verifies after the lease lands and re-pins the current version
  * if the vacuum won the race). Crashed readers leak leases; the
  * operator's lease horizon reclaims them. */
class VacuumLeaseSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.sources.GraftTestFs].getName)
    s
  }
  private val dir = TestSpark.sfDir

  private def buildVersion(alias: String, v: String,
      mod: Int): Unit =
    Similarity.buildIvfPqIndexProdOn(spark,
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 8 =!= mod),
      s"$alias/$v")

  test("the reclaim- version-name prefix is reserved at the publish gate") {
    // vacuum's crash-reclaim markers ("reclaim-<v>-<ts>") share the
    // `_alias/_condemned/` namespace with per-version condemned markers;
    // a version literally named like one would alias a reclaim epoch
    val e = intercept[IllegalArgumentException] {
      Similarity.publishIndexVersion(spark,
        "graftfs:/tmp/graft_never_used", "reclaim-v-001-123")
    }
    assert(e.getMessage.contains("reclaim-"), s"wrong failure: $e")
  }

  test("a pinned version survives the vacuum; the reader's rows are bit-identical") {
    val local = java.nio.file.Files.createTempDirectory("graft_lease")
    val alias = "graftfs:" + local.toString
    try {
      buildVersion(alias, "v-001", 1)
      Similarity.publishIndexVersion(spark, alias, "v-001")
      val (pinnedDir, lease) = Similarity.pinIndexVersion(spark, alias)
      assert(pinnedDir == s"$alias/v-001")
      val before = Similarity.annIvfPqIndexed(spark, dir, pinnedDir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(before.nonEmpty)
      buildVersion(alias, "v-002", 2)
      Similarity.publishIndexVersion(spark, alias, "v-002")
      buildVersion(alias, "v-003", 3)
      Similarity.publishIndexVersion(spark, alias, "v-003")
      // keep=1 would drop v-001 and v-002 — v-001 is leased, so only
      // v-002 goes; the vacuum PROVABLY skipped the held version
      assert(Similarity.vacuumIndexVersions(spark, alias,
        keepVersions = 1) == 1)
      assert(java.nio.file.Files.exists(
        local.resolve("v-001").resolve("centroids.parquet")))
      assert(!java.nio.file.Files.exists(local.resolve("v-002")))
      // the long-running reader completes against immutable files
      val after = Similarity.annIvfPqIndexed(spark, dir, pinnedDir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(after == before,
        "pinned reader's answer changed across the vacuum")
      // release → the NEXT maintenance pass collects it
      Similarity.unpinIndexVersion(spark, alias, lease)
      assert(Similarity.vacuumIndexVersions(spark, alias,
        keepVersions = 1) == 1)
      assert(!java.nio.file.Files.exists(local.resolve("v-001")))
      // the current version still resolves and serves
      assert(Similarity.resolveIndexAlias(spark, alias) == s"$alias/v-003")
      assert(Similarity.annIvfPqIndexed(spark, dir,
        s"$alias/v-003").count() > 0)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("a crashed reader's leaked lease is reclaimed by the horizon") {
    val local = java.nio.file.Files.createTempDirectory("graft_leasegc")
    val alias = "graftfs:" + local.toString
    try {
      buildVersion(alias, "v-001", 1)
      Similarity.publishIndexVersion(spark, alias, "v-001")
      val (_, _) = Similarity.pinIndexVersion(spark, alias) // never released
      buildVersion(alias, "v-002", 2)
      Similarity.publishIndexVersion(spark, alias, "v-002")
      // no horizon: the leaked lease holds the version forever
      assert(Similarity.vacuumIndexVersions(spark, alias,
        keepVersions = 1) == 0)
      assert(java.nio.file.Files.exists(local.resolve("v-001")))
      // a horizon of 0 ms reclaims any lease older than "now"
      Thread.sleep(20L)
      assert(Similarity.vacuumIndexVersions(spark, alias, keepVersions = 1,
        breakLeasesOlderThanMs = Some(0L)) == 1)
      assert(!java.nio.file.Files.exists(local.resolve("v-001")))
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("a crashed vacuum's stale condemned marker reclaims — but never by a blind delete") {
    val local = java.nio.file.Files.createTempDirectory("graft_leasecm")
    val alias = "graftfs:" + local.toString
    try {
      buildVersion(alias, "v-001", 1)
      Similarity.publishIndexVersion(spark, alias, "v-001")
      buildVersion(alias, "v-002", 2)
      Similarity.publishIndexVersion(spark, alias, "v-002")
      val ifs = graft.sources.IndexFs.on(spark, alias)
      // a vacuum crashed between condemn and delete 60 s ago: its
      // marker leaks (legacy content form — staleness falls back to
      // the FS modTime)
      val marker = ifs.child("_alias", "_condemned", "v-001")
      ifs.createUtf8(marker, "v-001")
      java.nio.file.Files.setLastModifiedTime(
        local.resolve("_alias").resolve("_condemned").resolve("v-001"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
      // no horizon: the leak holds the version (documented contract)
      assert(Similarity.vacuumIndexVersions(spark, alias,
        keepVersions = 1) == 0)
      assert(java.nio.file.Files.exists(local.resolve("v-001")))
      // a LIVE sweep of exactly this marker epoch is in flight — the
      // straggler must yield, not blind-delete the marker out from
      // under it (the writer-lease reclaim TOCTOU, closed engine-wide)
      val ts = ifs.modTimeOf(marker)
      val sweep = ifs.child("_alias", "_condemned", s"reclaim-v-001-$ts")
      ifs.createUtf8(sweep, s"v-001:$ts")
      assert(Similarity.vacuumIndexVersions(spark, alias, keepVersions = 1,
        breakLeasesOlderThanMs = Some(10000L)) == 0)
      assert(ifs.exists(marker),
        "a blocked sweeper must never touch the condemned marker")
      assert(ifs.exists(sweep),
        "the straggler must not delete the LIVE sweep marker")
      assert(java.nio.file.Files.exists(local.resolve("v-001")))
      // the in-flight sweeper crashed instead: past the horizon its
      // husk is swept, and the NEXT pass heals the condemned marker
      java.nio.file.Files.setLastModifiedTime(
        local.resolve("_alias").resolve("_condemned")
          .resolve(s"reclaim-v-001-$ts"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L))
      assert(Similarity.vacuumIndexVersions(spark, alias, keepVersions = 1,
        breakLeasesOlderThanMs = Some(10000L)) == 0)
      assert(!ifs.exists(sweep),
        "a crashed sweeper's husk must be reclaimed past the horizon")
      assert(Similarity.vacuumIndexVersions(spark, alias, keepVersions = 1,
        breakLeasesOlderThanMs = Some(10000L)) == 1)
      assert(!java.nio.file.Files.exists(local.resolve("v-001")))
      assert(Similarity.resolveIndexAlias(spark, alias) == s"$alias/v-002")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("a reader pinning DURING rotation+vacuum always completes on a live version") {
    val local = java.nio.file.Files.createTempDirectory("graft_leaserace")
    val alias = "graftfs:" + local.toString
    try {
      buildVersion(alias, "v-001", 1)
      Similarity.publishIndexVersion(spark, alias, "v-001")
      buildVersion(alias, "v-002", 2)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      @volatile var readerRows = -1L
      @volatile var readerDir: String = null
      @volatile var failure: Option[Throwable] = None
      val reader = new Thread(() => {
        try {
          barrier.await()
          val (d, lease) = Similarity.pinIndexVersion(spark, alias)
          readerDir = d
          readerRows = Similarity.annIvfPqIndexed(spark, dir, d).count()
          Similarity.unpinIndexVersion(spark, alias, lease)
        } catch { case e: Throwable => failure = Some(e) }
      })
      val maintainer = new Thread(() => {
        try {
          barrier.await()
          Similarity.publishIndexVersion(spark, alias, "v-002")
          Similarity.vacuumIndexVersions(spark, alias, keepVersions = 1)
        } catch { case e: Throwable => failure = Some(e) }
      })
      reader.start(); maintainer.start()
      reader.join(600000L); maintainer.join(600000L)
      assert(failure.isEmpty, s"race threw: $failure")
      assert(readerRows > 0,
        s"reader failed to complete on its pinned version $readerDir")
      assert(Set(s"$alias/v-001", s"$alias/v-002").contains(readerDir))
      // after the reader released, maintenance converges fully
      Similarity.vacuumIndexVersions(spark, alias, keepVersions = 1)
      assert(!java.nio.file.Files.exists(local.resolve("v-001")))
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }
}
