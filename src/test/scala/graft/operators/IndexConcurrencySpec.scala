package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.TestSpark

/** TRUE-CONCURRENCY exercise of the persisted-index lifecycle: real
  * parallel writer threads released through one barrier, over the
  * `graftfs://` scheme (so every metadata touch routes through the
  * Hadoop FS abstraction the protocol is written against, not
  * `java.nio.file`). `IndexLifecycleFuzzSpec` replays seeded
  * SEQUENTIAL interleavings; this spec runs the races the commit-log
  * protocol claims to survive — append ∥ append, append ∥ delete,
  * delete ∥ full purge, routed append ∥ alias rotation — and asserts
  * the same invariants after the dust settles: visible set equals the
  * model, seqs unique, retries no-ops, no erased vector resurrected.
  *
  * The two races the protocol cannot survive are ENFORCED by the
  * per-index writer lease (round 14 — previously documented contracts
  * held by prose): duplicate concurrent submissions of ONE batch id,
  * and compaction racing appends. Those cases here assert exactly one
  * winner, a loud [[Similarity.IndexWriterContentionException]] loser,
  * and a converged artifact after the loser's sequential retry. */
class IndexConcurrencySpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.sources.GraftTestFs].getName)
    s
  }
  private val dir = TestSpark.sfDir

  /** Run the thunks on real threads, all released by one barrier;
    * returns each thread's failure if it threw. */
  private def race(thunks: (() => Unit)*): Vector[Option[Throwable]] = {
    val barrier = new java.util.concurrent.CyclicBarrier(thunks.size)
    val results = Array.fill[Option[Throwable]](thunks.size)(None)
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      new Thread(() => {
        results(i) =
          try { barrier.await(); t(); None }
          catch { case e: Throwable => Some(e) }
      }, s"graft-race-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000L))
    assert(threads.forall(!_.isAlive), "a racing writer is still running")
    results.toVector
  }

  private def newRoot(tag: String): (java.nio.file.Path, String) = {
    val local = java.nio.file.Files.createTempDirectory(s"graft_conc_$tag")
    (local, "graftfs:" + local.toString)
  }

  private def postingIds(root: String): Set[Long] =
    spark.read.parquet(s"$root/postings.parquet")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet

  private def fileHashes(local: java.nio.file.Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("MD5")
    val walk = java.nio.file.Files.walk(local)
    try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map { p =>
        md.reset()
        local.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
      }.toMap
    finally walk.close()
  }

  test("two racing appends of different batches: both commit, seqs unique") {
    val (local, root) = newRoot("appapp")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") % 4 === 0)
      Similarity.buildIvfPqIndexProdOn(spark, base, root)
      val d1 = e.filter(col("vec_id") % 4 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val d2 = e.filter(col("vec_id") % 4 === 2)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      val outcomes = race(
        () => Similarity.appendToIvfPqIndexProd(spark, d1, root, "crawl-a"),
        () => Similarity.appendToIvfPqIndexProd(spark, d2, root, "crawl-b"))
      assert(outcomes.flatten.isEmpty,
        s"racing appends threw: ${outcomes.flatten.map(_.toString)}")
      val want = (base.select(col("vec_id")) union d1.select(col("vec_id"))
        union d2.select(col("vec_id"))).collect().map(_.getLong(0)).toSet
      assert(postingIds(root) == want, "a racing append lost rows")
      val drift = Similarity.indexDriftReport(spark, root)
        .select(col("batch_id"), col("seq")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(drift.map(_._1).toSet == Set("crawl-a", "crawl-b"))
      assert(drift.map(_._2).toSet == Set(0L, 1L),
        s"racing appends minted non-unique/non-dense seqs: ${drift.toSeq}")
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_appends") == 2L)
      // sequential retries of both batches are byte-level no-ops
      val once = fileHashes(local)
      Similarity.appendToIvfPqIndexProd(spark, d1, root, "crawl-a")
      Similarity.appendToIvfPqIndexProd(spark, d2, root, "crawl-b")
      assert(fileHashes(local) == once, "a retried append mutated bytes")
      // no staging husk survives a committed batch
      assert(!java.nio.file.Files.exists(local.resolve("_append_staging"))
        || local.resolve("_append_staging").toFile.list().isEmpty)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("append racing a delete: both commit, erasure holds through the race") {
    val (local, root) = newRoot("appdel")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") % 4 =!= 3)
      Similarity.buildIvfPqIndexProdOn(spark, base, root)
      val delta = e.filter(col("vec_id") % 4 === 3)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
      val dead = base.filter(col("vec_id") % 10 === 6).select(col("vec_id"))
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      assert(deadIds.nonEmpty)
      val outcomes = race(
        () => Similarity.appendToIvfPqIndexProd(spark, delta, root, "crawl-c"),
        () => Similarity.deleteFromIvfPqIndex(spark, dead, root, "erase-1"))
      assert(outcomes.flatten.isEmpty,
        s"append∥delete threw: ${outcomes.flatten.map(_.toString)}")
      val baseIds = base.select(col("vec_id")).collect()
        .map(_.getLong(0)).toSet
      val deltaIds = delta.select(col("vec_id")).collect()
        .map(_.getLong(0)).toSet
      // visibility: postings minus tombstones == base + delta - dead
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_appends") == 1L)
      assert(desc.getAs[Long]("committed_deletes") == 1L)
      assert(desc.getAs[Long]("tombstoned_ids") == deadIds.size)
      assert(postingIds(root) == baseIds ++ deltaIds,
        "the race dropped appended or base rows")
      val served = Similarity.annIvfPqIndexed(spark, dir, root)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(served.nonEmpty)
      served.foreach { case (q, n) =>
        assert(!deadIds.contains(q) && !deadIds.contains(n),
          s"erased id served after append∥delete race: $q / $n")
      }
      // retries of both verbs are byte no-ops
      val once = fileHashes(local)
      Similarity.appendToIvfPqIndexProd(spark, delta, root, "crawl-c")
      Similarity.deleteFromIvfPqIndex(spark, dead, root, "erase-1")
      assert(fileHashes(local) == once, "a retried verb mutated bytes")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("delete racing a full purge: no resurrection, next pass erases the late batch") {
    val (local, root) = newRoot("delpurge")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      Similarity.buildIvfPqIndexProdOn(spark, e, root)
      val dead1 = e.filter(col("vec_id") % 10 === 2).select(col("vec_id"))
      val dead1Ids = dead1.collect().map(_.getLong(0)).toSet
      val dead2 = e.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
      val dead2Ids = dead2.collect().map(_.getLong(0)).toSet
      Similarity.deleteFromIvfPqIndex(spark, dead1, root, "erase-a")
      val outcomes = race(
        () => { Similarity.compactIvfPqIndex(spark, root,
          maxFilesPerCell = 0); () },
        () => Similarity.deleteFromIvfPqIndex(spark, dead2, root, "erase-b"))
      assert(outcomes.flatten.isEmpty,
        s"purge∥delete threw: ${outcomes.flatten.map(_.toString)}")
      // the pre-existing batch is physically gone (the purge's claim)
      val left = postingIds(root)
      assert((left & dead1Ids).isEmpty,
        "full purge left rows of the already-committed erasure batch")
      // the racing batch may or may not have been caught by this pass,
      // but its tombstones stay AUTHORITATIVE: nothing resurfaces
      val served = Similarity.annIvfPqIndexed(spark, dir, root)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(served.nonEmpty)
      served.foreach { case (q, n) =>
        assert(!dead1Ids.contains(q) && !dead1Ids.contains(n))
        assert(!dead2Ids.contains(q) && !dead2Ids.contains(n),
          s"mid-purge erasure batch resurfaced: $q / $n")
      }
      // the NEXT maintenance pass physically erases the late batch too
      Similarity.compactIvfPqIndex(spark, root, maxFilesPerCell = 0)
      assert((postingIds(root) & dead2Ids).isEmpty,
        "second purge pass left the mid-purge batch's bytes on disk")
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_deletes") == 2L)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("compaction racing an append: one winner, loud loser, converged artifact") {
    val (local, root) = newRoot("compapp")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") % 4 === 0)
      Similarity.buildIvfPqIndexProdOn(spark, base, root)
      val d1 = e.filter(col("vec_id") % 4 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.appendToIvfPqIndexProd(spark, d1, root, "seed-1")
      val d2 = e.filter(col("vec_id") % 4 === 2)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      val outcomes = race(
        () => Similarity.appendToIvfPqIndexProd(spark, d2, root, "race-b"),
        () => { Similarity.compactIvfPqIndex(spark, root,
          maxFilesPerCell = 0); () })
      // EXACTLY one winner: the sequenced lease totally orders the two
      // verbs, so of a genuinely concurrent pair one proceeds and one
      // throws the contention error — never both-succeed (the silent
      // row-drop this lease exists to prevent), never both-fail
      val failures = outcomes.flatten
      assert(failures.length == 1,
        s"expected exactly one loud loser, got ${failures.length}: " +
          s"${failures.map(_.toString)}")
      assert(failures.head.isInstanceOf[
          Similarity.IndexWriterContentionException],
        s"loser must fail with the contention error: ${failures.head}")
      // no lease husk survives either path
      assert(!java.nio.file.Files.exists(local.resolve("_writer_leases"))
        || local.resolve("_writer_leases").toFile.list().isEmpty,
        "a writer lease leaked past its release")
      // the loser retries SEQUENTIALLY and the artifact converges to
      // base + both deltas, fully compacted on the final pass
      if (outcomes(0).isDefined)
        Similarity.appendToIvfPqIndexProd(spark, d2, root, "race-b")
      Similarity.compactIvfPqIndex(spark, root, maxFilesPerCell = 0)
      val want = (base.select(col("vec_id")) union d1.select(col("vec_id"))
        union d2.select(col("vec_id"))).collect().map(_.getLong(0)).toSet
      assert(postingIds(root) == want,
        "the enforced race dropped or duplicated rows")
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_appends") == 2L)
      // retries of both verbs stay byte no-ops after the dust settles
      val once = fileHashes(local)
      Similarity.appendToIvfPqIndexProd(spark, d2, root, "race-b")
      assert(fileHashes(local) == once, "a retried append mutated bytes")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("duplicate concurrent submissions of one batch id: one winner, loud loser, one copy") {
    val (local, root) = newRoot("dupbatch")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") % 4 === 0)
      Similarity.buildIvfPqIndexProdOn(spark, base, root)
      val delta = e.filter(col("vec_id") % 4 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val outcomes = race(
        () => Similarity.appendToIvfPqIndexProd(spark, delta, root, "dup-1"),
        () => Similarity.appendToIvfPqIndexProd(spark, delta, root, "dup-1"))
      // the attempt guard admits exactly one in-flight attempt of a
      // batch id: one twin commits, the other fails LOUDLY (the old
      // failure mode was the loser's recovery sweep deleting files the
      // winner had just published before the marker landed)
      val failures = outcomes.flatten
      assert(failures.length == 1,
        s"expected exactly one loud loser, got ${failures.length}: " +
          s"${failures.map(_.toString)}")
      assert(failures.head.isInstanceOf[
          Similarity.IndexWriterContentionException],
        s"loser must fail with the contention error: ${failures.head}")
      val want = (base.select(col("vec_id")) union delta.select(col("vec_id")))
        .collect().map(_.getLong(0)).toSet
      assert(postingIds(root) == want,
        "the duplicate race left missing or doubled rows")
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_appends") == 1L)
      // the loser's sequential retry is the contract cadence: a no-op
      val once = fileHashes(local)
      Similarity.appendToIvfPqIndexProd(spark, delta, root, "dup-1")
      assert(fileHashes(local) == once,
        "the sequential retry after losing the guard was not a no-op")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("duplicate concurrent deletes of one batch id: one winner, loud loser, one tombstone set") {
    val (local, root) = newRoot("dupdel")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      Similarity.buildIvfPqIndexProdOn(spark, e, root)
      val dead = e.filter(col("vec_id") % 10 === 3).select(col("vec_id"))
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      val outcomes = race(
        () => Similarity.deleteFromIvfPqIndex(spark, dead, root, "erase-x"),
        () => Similarity.deleteFromIvfPqIndex(spark, dead, root, "erase-x"))
      // the delete verb's recovery sweep is as destructive as the
      // append's (it deletes its batch's tombstone files), so the same
      // attempt guard applies: one twin commits, one fails loudly
      val failures = outcomes.flatten
      assert(failures.length == 1,
        s"expected exactly one loud loser: ${failures.map(_.toString)}")
      assert(failures.head.isInstanceOf[
          Similarity.IndexWriterContentionException], failures.head.toString)
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_deletes") == 1L)
      assert(desc.getAs[Long]("tombstoned_ids") == deadIds.size,
        "the duplicate delete race doubled or lost tombstones")
      // erasure holds and the loser's sequential retry no-ops
      val served = Similarity.annIvfPqIndexed(spark, dir, root)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      served.foreach { case (q, n) =>
        assert(!deadIds.contains(q) && !deadIds.contains(n)) }
      val once = fileHashes(local)
      Similarity.deleteFromIvfPqIndex(spark, dead, root, "erase-x")
      assert(fileHashes(local) == once, "a retried delete mutated bytes")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("a failed attempt releases its lease: the sequential retry proceeds") {
    val (local, root) = newRoot("leaserel")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      Similarity.buildIvfPqIndexProdOn(spark,
        e.filter(col("vec_id") % 4 === 0), root)
      val delta = e.filter(col("vec_id") % 4 === 1)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      // an attempt whose BODY throws (bad delta: missing column) must
      // release both lease files on the way out, not brick the index
      intercept[Throwable] {
        Similarity.appendToIvfPqIndexProd(spark,
          delta.select(col("vec_id")), root, "crash-1")
      }
      assert(!java.nio.file.Files.exists(local.resolve("_writer_leases"))
        || local.resolve("_writer_leases").toFile.list().isEmpty,
        "a failed attempt leaked its writer lease")
      // the sequential retry with the fixed delta commits normally
      Similarity.appendToIvfPqIndexProd(spark, delta, root, "crash-1")
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_appends") == 1L)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("writer-lease enforcement is symmetric and horizon-reclaimable") {
    val (local, root) = newRoot("lease")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      Similarity.buildIvfPqIndexProdOn(spark,
        e.filter(col("vec_id") % 4 === 0), root)
      Similarity.appendToIvfPqIndexProd(spark,
        e.filter(col("vec_id") % 4 === 1)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")), root, "seed-1")
      val ifs = graft.sources.IndexFs.on(spark, root)
      val now = System.currentTimeMillis()
      // a live append holds its lease mid-flight → compaction yields
      ifs.createUtf8(ifs.child("_writer_leases", "append-inflight"),
        s"append:inflight:$now")
      ifs.createUtf8(ifs.child("_writer_leases", "lease-000000000000"),
        s"append:inflight:$now")
      intercept[Similarity.IndexWriterContentionException] {
        Similarity.compactIvfPqIndex(spark, root, maxFilesPerCell = 0)
      }
      ifs.deleteFile(ifs.child("_writer_leases", "lease-000000000000"))
      ifs.deleteFile(ifs.child("_writer_leases", "append-inflight"))
      // a live compaction holds its lease mid-flight → append yields
      ifs.createUtf8(ifs.child("_writer_leases", "compact-all"),
        s"compact:all:$now")
      ifs.createUtf8(ifs.child("_writer_leases", "lease-000000000001"),
        s"compact:all:$now")
      val d2 = e.filter(col("vec_id") % 4 === 2)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      intercept[Similarity.IndexWriterContentionException] {
        Similarity.appendToIvfPqIndexProd(spark, d2, root, "blocked-1")
      }
      // a CRASHED writer's husk reclaims past the horizon — the next
      // sequential attempt self-heals instead of bricking the index
      spark.conf.set("graft.index.writerLeaseHorizonMs", "1")
      try {
        Thread.sleep(10L)
        Similarity.appendToIvfPqIndexProd(spark, d2, root, "blocked-1")
      } finally spark.conf.unset("graft.index.writerLeaseHorizonMs")
      val desc = Similarity.describeIndex(spark, root).head()
      assert(desc.getAs[Long]("committed_appends") == 2L,
        "the post-reclaim append did not commit")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("routed streaming append racing an alias rotation lands in exactly one real version") {
    val (local, alias) = newRoot("rot")
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      Similarity.buildIvfPqIndexProdOn(spark,
        e.filter(col("vec_id") % 4 =!= 3), s"$alias/v-001")
      Similarity.publishIndexVersion(spark, alias, "v-001")
      Similarity.buildIvfPqIndexProdOn(spark,
        e.filter(col("vec_id") % 4 =!= 3), s"$alias/v-002")
      val batch = e.filter(col("vec_id") % 4 === 3)
        .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
      val batchIds = batch.collect().map(_.getLong(0)).toSet
      val outcomes = race(
        () => graft.streaming.StreamingIndexAppend
          .appendBatchAliased(spark, alias)(batch, 7L),
        () => Similarity.publishIndexVersion(spark, alias, "v-002"))
      assert(outcomes.flatten.isEmpty,
        s"rotation∥append threw: ${outcomes.flatten.map(_.toString)}")
      // the rotation won the alias; the batch landed under its CLAIMED
      // version — which must be a real version directory, fully
      // committed there, and nowhere else
      assert(Similarity.resolveIndexAlias(spark, alias) == s"$alias/v-002")
      val claim = java.nio.file.Files.readString(
        local.resolve("_alias").resolve("_ingest_log").resolve("batch-7"))
      assert(Set("v-001", "v-002").contains(claim),
        s"claim names no real version: '$claim'")
      val inClaimed = postingIds(s"$alias/$claim")
      assert((batchIds -- inClaimed).isEmpty,
        s"batch only partially committed under claimed version $claim")
      val other = if (claim == "v-001") "v-002" else "v-001"
      assert((postingIds(s"$alias/$other") & batchIds).isEmpty,
        "batch leaked into the non-claimed version")
      // a replay of the same micro-batch follows the claim and no-ops
      val once = fileHashes(local)
      graft.streaming.StreamingIndexAppend
        .appendBatchAliased(spark, alias)(batch, 7L)
      assert(fileHashes(local) == once,
        "replayed micro-batch was not routed to its claim / not a no-op")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  // ------------------------------------------------------------------
  // Reclaim TOCTOU (round 14, second pass): sweeping a crashed husk
  // used to be a blind exists-stale-then-delete — a straggler that read
  // the husk as stale, paused a few MILLISECONDS while a faster
  // reclaimer swept it and re-created a fresh guard at the same name,
  // would delete the fresh guard and re-admit the two-winner
  // corruption, with no horizon violation anywhere. Reclaim now goes
  // through a ts-keyed create-once marker plus a post-win re-read, and
  // stale sequenced leases are RETIRED (create-once tombstone before
  // the delete) so a seq number is never validly held twice. These
  // cases pin each interleaving at the protocol level.
  // ------------------------------------------------------------------

  private def leaseDir(ifs: graft.sources.IndexFs) = ifs.child("_writer_leases")

  test("guard reclaim: a live reclaim marker blocks a second reclaimer; the husk survives") {
    val (local, root) = newRoot("recl_live")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      val huskTs = now - 100000L
      ifs.createUtf8(ifs.child("_writer_leases", "append-b1"),
        s"append:b1:$huskTs")
      // another reclaimer holds the marker for exactly this husk ts
      ifs.createUtf8(ifs.child("_writer_leases", s"reclaim-append-b1-$huskTs"),
        s"reclaim:append-b1:$now")
      val e = intercept[Similarity.IndexWriterContentionException] {
        Similarity.acquireWriterLease(ifs, "append", "b1", 60000L)
      }
      assert(e.getMessage.contains("reclaimer"), s"wrong failure: $e")
      assert(ifs.exists(ifs.child("_writer_leases", "append-b1")),
        "a blocked reclaimer must never touch the husk")
      // the marker's winner finishes its sweep → the next attempt heals
      ifs.deleteFile(ifs.child("_writer_leases", s"reclaim-append-b1-$huskTs"))
      ifs.deleteFile(ifs.child("_writer_leases", "append-b1"))
      val lease = Similarity.acquireWriterLease(ifs, "append", "b1", 60000L)
      assert(lease.nonEmpty)
      lease.foreach(ifs.deleteFile)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("guard reclaim: a crashed reclaimer's stale marker is swept and the husk still heals") {
    val (local, root) = newRoot("recl_crash")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      val huskTs = now - 100000L
      ifs.createUtf8(ifs.child("_writer_leases", "append-b2"),
        s"append:b2:$huskTs")
      // a reclaimer crashed mid-sweep: its marker is itself past horizon
      ifs.createUtf8(ifs.child("_writer_leases", s"reclaim-append-b2-$huskTs"),
        s"reclaim:append-b2:$huskTs")
      val lease = Similarity.acquireWriterLease(ifs, "append", "b2", 60000L)
      assert(lease.exists(_.getName == "append-b2"),
        "the sequential retry must hold a fresh guard")
      assert(!ifs.exists(
        ifs.child("_writer_leases", s"reclaim-append-b2-$huskTs")),
        "the crashed reclaimer's marker husk must be swept")
      val content = ifs.readUtf8(ifs.child("_writer_leases", "append-b2"))
      assert(!content.endsWith(s":$huskTs"), "the guard must be re-stamped")
      lease.foreach(ifs.deleteFile)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("guard reclaim never deletes a fresh guard: the post-win re-read refuses a changed ts") {
    val (local, root) = newRoot("recl_fresh")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      val freshContent = s"append:b3:$now"
      ifs.createUtf8(ifs.child("_writer_leases", "append-b3"), freshContent)
      // the straggler: it read the guard as a stale husk at an OLD ts,
      // paused, and only now runs its sweep — meanwhile the husk was
      // reclaimed and a FRESH guard re-created at the same name
      val oldTs = now - 100000L
      val won = Similarity.reclaimGuardHusk(
        ifs, "append", "b3", oldTs, now, 60000L)
      assert(won, "nobody contends the straggler's marker")
      assert(ifs.exists(ifs.child("_writer_leases", "append-b3")),
        "the straggler deleted the fresh guard: two-winner TOCTOU")
      assert(ifs.readUtf8(ifs.child("_writer_leases", "append-b3"))
        == freshContent, "the fresh guard was rewritten")
      assert(!ifs.exists(
        ifs.child("_writer_leases", s"reclaim-append-b3-$oldTs")),
        "the straggler's marker must be cleaned up")
      ifs.deleteFile(ifs.child("_writer_leases", "append-b3"))
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("a retired seq is never validly held again: the mint self-invalidates and moves up") {
    val (local, root) = newRoot("recl_retired")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      // three live append leases (no clash for an append acquirer) and
      // a retirement tombstone where the next mint would land
      for (s <- 0 to 2)
        ifs.createUtf8(ifs.child("_writer_leases", f"lease-$s%012d"),
          s"append:other-$s:$now")
      ifs.createUtf8(ifs.child("_writer_leases", "retired-000000000003"),
        s"retired:lease-000000000003:$now")
      val lease = Similarity.acquireWriterLease(ifs, "append", "b4", 60000L)
      assert(lease.exists(_.getName == "lease-000000000004"),
        s"mint must skip the retired seq 3: held ${lease.map(_.getName)}")
      assert(!ifs.exists(ifs.child("_writer_leases", "lease-000000000003")),
        "the self-invalidated transient mint at seq 3 must be removed")
      lease.foreach(ifs.deleteFile)
      for (s <- 0 to 2)
        ifs.deleteFile(ifs.child("_writer_leases", f"lease-$s%012d"))
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("a stale conflicting lease is retired before deletion") {
    val (local, root) = newRoot("recl_retire")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      // a crashed compaction's seq lease, past horizon (no guard husk —
      // its guard was already reclaimed by an earlier attempt)
      ifs.createUtf8(ifs.child("_writer_leases", "lease-000000000000"),
        s"compact:all:${now - 100000L}")
      val lease = Similarity.acquireWriterLease(ifs, "append", "b5", 60000L)
      assert(lease.exists(_.getName == "lease-000000000001"))
      assert(ifs.exists(ifs.child("_writer_leases", "retired-000000000000")),
        "the stale lease must be tombstoned BEFORE deletion")
      assert(!ifs.exists(ifs.child("_writer_leases", "lease-000000000000")),
        "the stale lease must still be swept")
      lease.foreach(ifs.deleteFile)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("horizon GC: stale retired tombstones and orphaned reclaim markers sweep on acquire") {
    val (local, root) = newRoot("recl_gc")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      val stale = now - 100000L
      // debris from past crash-reclaims: a poisoned seq tombstone and a
      // reclaim marker whose holder crashed between its guard delete
      // and marker delete (nothing in-path ever re-derives its name —
      // the guard it keyed on is gone)
      ifs.createUtf8(ifs.child("_writer_leases", "retired-000000000007"),
        s"retired:lease-000000000007:$stale")
      ifs.createUtf8(ifs.child("_writer_leases", "reclaim-append-gone-" +
        stale), s"reclaim:append-gone:$stale")
      // a LIVE tombstone (a straggler inside the horizon may still hold
      // a pending delete of a re-mint at this seq) must survive the GC
      ifs.createUtf8(ifs.child("_writer_leases", "retired-000000000000"),
        s"retired:lease-000000000000:$now")
      val lease = Similarity.acquireWriterLease(ifs, "append", "b7", 60000L)
      assert(!ifs.exists(ifs.child("_writer_leases", "retired-000000000007")),
        "a tombstone past the horizon defends nothing — it must be GC'd")
      assert(!ifs.exists(ifs.child("_writer_leases",
        s"reclaim-append-gone-$stale")),
        "an orphaned reclaim marker past the horizon must be GC'd")
      assert(ifs.exists(ifs.child("_writer_leases", "retired-000000000000")),
        "a live tombstone must survive the GC")
      // the live tombstone still poisons its seq: the mint moved past 0
      assert(lease.exists(_.getName == "lease-000000000001"),
        s"mint must skip the live retired seq 0: held ${lease.map(_.getName)}")
      lease.foreach(ifs.deleteFile)
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("racing duplicate submissions over a crashed husk: exactly one holder emerges") {
    val (local, root) = newRoot("recl_race")
    try {
      val ifs = graft.sources.IndexFs.on(spark, root)
      ifs.mkdirs(leaseDir(ifs))
      val now = System.currentTimeMillis()
      ifs.createUtf8(ifs.child("_writer_leases", "append-b6"),
        s"append:b6:${now - 100000L}")
      val heldLeases =
        java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      // winners HOLD until every loser has resolved — a released lease
      // would make a second sequential winner legitimate
      val losers = new java.util.concurrent.CountDownLatch(3)
      val outcomes = race((1 to 4).map(_ => () => {
        val l =
          try Similarity.acquireWriterLease(ifs, "append", "b6", 60000L)
          catch { case e: Throwable => losers.countDown(); throw e }
        l.foreach(p => heldLeases.add(p.getName))
        losers.await(60L, java.util.concurrent.TimeUnit.SECONDS)
        l.foreach(ifs.deleteFile)
      }): _*)
      val failures = outcomes.flatten
      assert(failures.size == 3,
        s"exactly one racer must win over the husk; failures=$failures")
      assert(failures.forall(
        _.isInstanceOf[Similarity.IndexWriterContentionException]),
        s"losers must fail loudly with contention: $failures")
      assert(heldLeases.contains("append-b6"))
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }
}
