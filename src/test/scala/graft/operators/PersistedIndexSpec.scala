package graft.operators

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.{col, input_file_name}

import graft.TestSpark

/** The build-once / query-many persisted IVF-PQ index: the artifact
  * must reproduce the in-query [[Similarity.annIvfPqProd]] row for row
  * after its parquet round trip, the postings layout must turn a probe
  * set into a partition-PRUNED read, and the whole append / delete /
  * compact / alias lifecycle must keep its exactly-once guarantees. */
class PersistedIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def tempRoot(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_pidx")

  private def resultRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .toSet

  test("querying the persisted exact index reproduces annIvfPq row for row") {
    val root = tempRoot()
    try {
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val indexed = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      val direct = resultRows(Similarity.annIvfPqProd(spark, dir))
      assert(direct.nonEmpty)
      assert(indexed == direct)
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("a probe set reads ONLY its cells' postings partitions") {
    val root = tempRoot()
    try {
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val postings = spark.read.parquet(s"$root/postings.parquet")
      val cells = postings.select(col("centroid_id").cast("long"))
        .distinct().orderBy(col("centroid_id")).limit(2)
        .collect().map(_.getLong(0))
      assert(cells.length == 2)
      val files = postings
        .filter(col("centroid_id").cast("long").isin(cells.toIndexedSeq: _*))
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty)
      files.foreach(f => assert(
        cells.exists(c => f.contains(s"centroid_id=$c")),
        s"file outside the probed partitions: $f"))
      // the build co-locates each cell before partitionBy, so the
      // layout is ONE file per cell — 2 probed cells read 2 files
      assert(files.length == 2,
        s"expected one file per probed cell, got ${files.length}")
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  /** path → md5 for every regular file under root. */
  private def fileHashes(root: java.nio.file.Path): Map[String, String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map { p =>
        md.reset()
        root.relativize(p).toString ->
          md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
      }.toMap
    finally walk.close()
  }

  test("delta append freezes centroids/codebook and touches only delta cells") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark, e.filter(col("vec_id") % 8 =!= 7),
        root.toString)
      val before = fileHashes(root)
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 8 === 7),
        root.toString, "day1")
      val after = fileHashes(root)
      // every pre-existing artifact file — centroids, codebook, and every
      // base postings file — is byte-identical after the append
      before.foreach { case (rel, h) =>
        assert(after.get(rel).contains(h), s"append modified $rel")
      }
      // and every NEW file is a postings file in a centroid_id= partition
      // holding ONLY delta vectors — no base row was rewritten, no file
      // landed outside the touched cells (plus the append's tiny drift
      // stats row under _stats/ and its commit-log marker)
      val fresh = (after.keySet -- before.keySet).toSeq
      assert(fresh.nonEmpty)
      fresh.filterNot(r => r.endsWith(".crc") || r.startsWith("_stats/") ||
          r.startsWith("_append_log/"))
        .foreach { rel =>
        assert(rel.startsWith("postings.parquet/centroid_id="),
          s"append wrote outside the postings partitions: $rel")
        if (rel.endsWith(".parquet")) {
          val ids = spark.read.parquet(s"$root/$rel")
            .select(col("vec_id")).collect().map(_.getLong(0))
          assert(ids.nonEmpty && ids.forall(_ % 8 == 7),
            s"new postings file $rel holds non-delta vectors")
        }
      }
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("two-day append cadence equals the single-batch append") {
    val root1 = tempRoot()
    val root2 = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      val base = e.filter(col("vec_id") % 8 =!= 7)
      Similarity.buildIvfPqIndexProdOn(spark, base, root1.toString)
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 8 === 7),
        root1.toString, "all")
      Similarity.buildIvfPqIndexProdOn(spark, base, root2.toString)
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 16 === 7),
        root2.toString, "d1")
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 16 === 15),
        root2.toString, "d2")
      val one = resultRows(Similarity.annIvfPqIndexed(spark, dir, root1.toString))
      val two = resultRows(Similarity.annIvfPqIndexed(spark, dir, root2.toString))
      assert(one.nonEmpty)
      assert(one == two)
      // the appended vectors are live in the index: they appear both as
      // result queries and among someone's neighbors
      assert(one.exists(_._1 % 8 == 7))
      assert(one.exists(_._2 % 8 == 7))
    } finally {
      graft.streaming.StreamingStaging.deleteRecursively(root1)
      graft.streaming.StreamingStaging.deleteRecursively(root2)
    }
  }

  test("a retried (already-committed) batch append is a byte-level no-op") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark, e.filter(col("vec_id") % 8 =!= 7),
        root.toString)
      val delta = e.filter(col("vec_id") % 8 === 7)
      Similarity.appendToIvfPqIndexProd(spark, delta, root.toString, "day1")
      val once = fileHashes(root)
      val onceRows = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      // the driver retry: SAME delta, SAME batch id — must change nothing
      Similarity.appendToIvfPqIndexProd(spark, delta, root.toString, "day1")
      assert(fileHashes(root) == once,
        "a retried committed append modified the artifact")
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
        == onceRows)
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("recovery after a partial publish converges to exactly one batch copy") {
    val root = tempRoot()
    val control = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      val base = e.filter(col("vec_id") % 8 =!= 7)
      val delta = e.filter(col("vec_id") % 8 === 7)
      Similarity.buildIvfPqIndexProdOn(spark, base, root.toString)
      // simulate the crash window the naive append+marker recipe loses:
      // some of batch day1's files were already renamed into the live
      // partitions, but the marker was never created. The orphan is a
      // copy of a real postings file under the batch-tagged name — rows
      // a re-applied bare append would DOUBLE.
      val cellDir = {
        val walk = java.nio.file.Files.list(root.resolve("postings.parquet"))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("centroid_id="))
            .toSeq.minBy(_.toString)
        } finally walk.close()
      }
      val victim = {
        val walk = java.nio.file.Files.list(cellDir)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(_.toString.endsWith(".parquet")).toSeq.head
        } finally walk.close()
      }
      java.nio.file.Files.copy(victim,
        cellDir.resolve("batch-day1-99.parquet"))
      // the retried append: recovery must drop the orphan, then publish
      // the batch exactly once
      Similarity.appendToIvfPqIndexProd(spark, delta, root.toString, "day1")
      assert(!java.nio.file.Files.exists(
        cellDir.resolve("batch-day1-99.parquet")),
        "recovery left the crashed attempt's orphan in place")
      // and the result equals a clean single append on a fresh artifact
      Similarity.buildIvfPqIndexProdOn(spark, base, control.toString)
      Similarity.appendToIvfPqIndexProd(spark, delta, control.toString, "day1")
      val got = resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
      val want = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, control.toString))
      assert(want.nonEmpty)
      assert(got == want)
    } finally {
      graft.streaming.StreamingStaging.deleteRecursively(root)
      graft.streaming.StreamingStaging.deleteRecursively(control)
    }
  }

  test("compaction restores one-file-per-cell and changes no query answer") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark, e.filter(col("vec_id") % 8 =!= 7),
        root.toString)
      // two "days" of appends → touched cells hold up to 3 files
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 16 === 7),
        root.toString, "d1")
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 16 === 15),
        root.toString, "d2")
      val before = fileHashes(root)
      val preQuery = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      def filesPerCell(): Map[String, Int] = {
        val walk = java.nio.file.Files.walk(root.resolve("postings.parquet"))
        try walk.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet"))
          .toSeq.groupBy(_.getParent.getFileName.toString)
          .map { case (cell, fs) => cell -> fs.size }
        finally walk.close()
      }
      val fragmented = filesPerCell().filter(_._2 > 1)
      assert(fragmented.nonEmpty,
        "appends produced no fragmented cell — the fixture no longer exercises compaction")
      Similarity.compactIvfPqIndex(spark, root.toString)
      val after = fileHashes(root)
      // every cell is back to ONE file, and the query is bit-identical
      assert(filesPerCell().values.forall(_ == 1))
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
        == preQuery)
      // centroids/codebook and every single-file (untouched) cell are
      // byte-identical; only the fragmented cells were rewritten
      before.foreach { case (rel, h) =>
        val cellDir = rel.split('/').drop(1).headOption.getOrElse("")
        if (!rel.startsWith("postings.parquet/") ||
            !fragmented.contains(cellDir))
          assert(after.get(rel).contains(h), s"compaction modified $rel")
      }
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("drift report flags an out-of-distribution append batch") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark, e.filter(col("vec_id") % 8 =!= 7),
        root.toString)
      // day 0, before any append: an empty report with the full schema,
      // not an AnalysisException — dashboards poll from the first build
      val day0 = Similarity.indexDriftReport(spark, root.toString)
      assert(day0.columns.toSeq == Seq("n_vectors", "mean_cos",
        "build_mean_cos", "drift", "batch_id", "seq"))
      assert(day0.count() == 0L)
      // batch 1: in-distribution (the held-out delta slice)
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 16 === 7),
        root.toString, "d1")
      // batch 2: OUT of distribution — every dimension shifted, the
      // corpus-moved shape that should trigger a retrain (a different
      // slice SIZE than batch 1, so the report rows are identifiable)
      import org.apache.spark.sql.functions.transform
      val shifted = e.filter(col("vec_id") % 8 === 3)
        .select((col("vec_id") + 500000L).as("vec_id"),
          transform(col("embedding"),
            x => (x + org.apache.spark.sql.functions.lit(0.6f)).cast("float"))
            .as("embedding"))
      Similarity.appendToIvfPqIndexProd(spark, shifted, root.toString, "d2")
      val report = Similarity.indexDriftReport(spark, root.toString)
        .collect().map(r => r.getLong(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      assert(report.size == 2)
      val n1 = e.filter(col("vec_id") % 16 === 7).count()
      val n2 = e.filter(col("vec_id") % 8 === 3).count()
      assert(n1 != n2)
      val (_, _, driftIn) = report(n1)
      val (_, _, driftOut) = report(n2)
      info(f"drift: in-distribution $driftIn%.4f, shifted $driftOut%.4f")
      // the baseline is IN-SAMPLE (the quantizer scored on its own
      // training corpus), so even an in-distribution held-out batch
      // shows a small negative drift — the generalization gap of a
      // √n-cell quantizer trained on ~440 vectors (measured ≈ −0.08
      // here; it vanishes as training n grows). The SIGNAL is relative:
      // the out-of-distribution batch must sit clearly below the
      // held-out level.
      assert(driftIn < 0.0 && driftIn > -0.15,
        f"in-distribution drift $driftIn%.4f outside the fixture's expected band")
      assert(driftOut < driftIn - 0.05,
        f"shifted-batch drift $driftOut%.4f not clearly below in-dist $driftIn%.4f")
      // trend order is carried IN the rows (batch_id + commit seq
      // stamped at append time), not inferred from file read order
      val order = Similarity.indexDriftReport(spark, root.toString)
        .select(col("batch_id"), col("seq")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(order == Seq(("d1", 0L), ("d2", 1L)))
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("external-query search finds each query's source vector at rank 1") {
    // the search query set is "every 10th corpus vector, slightly moved"
    // (first 4 of 64 dims +0.05 → cosine to its source ≈ 0.999 while the
    // random corpus offers nothing above ~0.55) — so a CORRECT index +
    // search must put the source vector at rank 1 for every query. This
    // is the interpretable end-to-end check the hash gate can't express.
    val top1 = Similarity.annIvfPqIndexSearchProd(spark, dir)
      .filter(col("rnk") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1.nonEmpty)
    for ((qid, nid) <- top1)
      assert(nid == qid - 300000L,
        s"query $qid's nearest neighbor is $nid, not its source ${qid - 300000L}")
    // and the search actually searched: one result set per query vector
    val nQueries = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 10 === 0).count()
    assert(top1.size == nQueries)
  }

  test("deleted vectors vanish from the query; a retried delete is a no-op") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val before = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      // the erasure set must actually appear in the pre-delete answers,
      // or the exclusion assertions below are vacuous
      assert(before.exists(_._1 % 10 == 5) && before.exists(_._2 % 10 == 5))
      val ids = e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      val preDelete = fileHashes(root)
      Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, "erasure-1")
      val once = fileHashes(root)
      // the delete wrote ONLY tombstones + its marker — every
      // pre-existing postings/centroid/codebook file is byte-identical
      preDelete.foreach { case (rel, h) =>
        assert(once.get(rel).contains(h), s"delete modified $rel")
      }
      (once.keySet -- preDelete.keySet)
        .filterNot(_.endsWith(".crc")).foreach { rel =>
          assert(rel.startsWith("tombstones.parquet/") ||
            rel.startsWith("_delete_log/"),
            s"delete wrote outside tombstones/log: $rel")
        }
      val after = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      assert(after.nonEmpty)
      // deleted ids neither query nor appear as neighbors
      assert(after.forall(r => r._1 % 10 != 5 && r._2 % 10 != 5))
      // ranks stay dense 1..k over the thinned neighbor space
      after.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.map(_._3).toSeq.sorted == (1L to rs.size).toSeq,
          s"query $q has non-dense ranks after delete")
      }
      // retry of the committed batch: byte-level no-op
      Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, "erasure-1")
      assert(fileHashes(root) == once,
        "a retried committed delete modified the artifact")
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("compaction physically purges tombstoned rows; query rows unchanged") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      Similarity.deleteFromIvfPqIndex(spark,
        e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
        root.toString, "erasure-1")
      val preQuery = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      val deadBefore = spark.read.parquet(s"$root/postings.parquet")
        .filter(col("vec_id") % 10 === 5).count()
      assert(deadBefore > 0, "tombstoned rows already absent — purge vacuous")
      // erasure-deadline pass: force-rewrite every cell
      Similarity.compactIvfPqIndex(spark, root.toString, maxFilesPerCell = 0)
      // the bytes are gone from the postings artifact itself
      assert(spark.read.parquet(s"$root/postings.parquet")
        .filter(col("vec_id") % 10 === 5).count() == 0L,
        "physical purge left tombstoned rows in rewritten postings")
      // and the query is bit-identical before/after the purge
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
        == preQuery)
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("purge erases a WHOLE-cell takedown: dead cell's files leave disk") {
    // the realistic privacy-deadline shape: a takedown batch that covers
    // every row of some cells (clustered per-tenant/per-source vectors).
    // Dynamic partition overwrite only replaces partitions PRESENT in
    // the staged data, so a cell with zero live rows used to keep its
    // files (the erased bytes) on disk — the purge must delete those
    // partition directories explicitly.
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val postings = spark.read.parquet(s"$root/postings.parquet")
        .select(col("vec_id"), col("centroid_id").cast("long").as("cell"))
      // take down EVERY row of the two most populated cells, plus a
      // 10% sprinkle elsewhere (mixed whole-cell + partial-cell batch)
      val deadCells = postings.groupBy(col("cell"))
        .count().orderBy(col("count").desc, col("cell")).limit(2)
        .collect().map(_.getLong(0))
      assert(deadCells.length == 2)
      val cellIds = postings
        .filter(col("cell").isin(deadCells.toIndexedSeq: _*))
        .select(col("vec_id"))
      val ids = cellIds.union(
        e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))).distinct()
      val deadIds = ids.collect().map(_.getLong(0)).toSet
      Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, "takedown-1")
      val preQuery = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      Similarity.compactIvfPqIndex(spark, root.toString, maxFilesPerCell = 0)
      // the dead cells' partition DIRECTORIES are gone from disk
      deadCells.foreach { c =>
        assert(!java.nio.file.Files.exists(
          root.resolve("postings.parquet").resolve(s"centroid_id=$c")),
          s"whole-cell takedown left centroid_id=$c on disk")
      }
      // and NO surviving postings file carries any tombstoned id
      val survivors = spark.read.parquet(s"$root/postings.parquet")
        .select(col("vec_id")).collect().map(_.getLong(0))
      assert(survivors.nonEmpty)
      assert(!survivors.exists(deadIds), "purge left a tombstoned id on disk")
      // query rows bit-identical across the purge
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
        == preQuery)
      // idempotent: a retried purge pass converges (no resurrection, no
      // error on the already-deleted cells)
      Similarity.compactIvfPqIndex(spark, root.toString, maxFilesPerCell = 0)
      deadCells.foreach { c =>
        assert(!java.nio.file.Files.exists(
          root.resolve("postings.parquet").resolve(s"centroid_id=$c")))
      }
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("filtered search: only allowed neighbors, dense ranks, de source at 1") {
    val res = Similarity.annIvfPqIndexSearchFilteredProd(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(res.nonEmpty)
    val allowed = graft.sources.Tables.documents(spark, dir)
      .filter(col("lang") === "de").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(allowed.nonEmpty)
    // every returned neighbor satisfies the metadata predicate
    res.foreach { case (q, n, _) =>
      assert(allowed.contains(n), s"query $q returned non-'de' neighbor $n")
    }
    // PRE-filter semantics: ranks dense 1..k per query (a post-hoc
    // thinning of an unfiltered top-3 would leave gaps)
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1L to rs.size).toSeq,
        s"query $q has non-dense filtered ranks")
    }
    // interpretable anchor: a query whose SOURCE vector is German must
    // find it at rank 1 (source cosine ≈ 0.999 dominates the corpus)
    val deQueries = res.map(_._1).distinct
      .filter(q => allowed.contains(q - 300000L))
    assert(deQueries.nonEmpty)
    val top1 = res.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    deQueries.foreach { q =>
      assert(top1.get(q).contains(q - 300000L),
        s"query $q (source is 'de') did not rank its source first")
    }
  }

  test("alias rotation: atomic version swap, reader follows, vacuum GCs") {
    val alias = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      // v1 = the day-0 index (base split); the full-corpus retrain ships
      // as v2 — the deploy the drift report's "retrain due" leads to
      Similarity.buildIvfPqIndexProdOn(spark, e.filter(col("vec_id") % 8 =!= 7),
        s"$alias/v-001")
      Similarity.publishIndexVersion(spark, alias.toString, "v-001")
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v-001")
      val r1 = resultRows(Similarity.annIvfPqIndexed(spark, dir,
        Similarity.resolveIndexAlias(spark, alias.toString)))
      Similarity.buildIvfPqIndexProd(spark, dir, s"$alias/v-002")
      Similarity.publishIndexVersion(spark, alias.toString, "v-002")
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v-002")
      val r2 = resultRows(Similarity.annIvfPqIndexed(spark, dir,
        Similarity.resolveIndexAlias(spark, alias.toString)))
      // the post-swap alias answers EXACTLY as the oracle-gated
      // full-corpus form — rotation is transitively under the hash gate
      assert(r2 == resultRows(Similarity.annIvfPqProd(spark, dir)))
      // and the swap visibly changed the answer (the retrain landed)
      assert(r1 != r2)
      // publishing an incomplete artifact is refused loudly
      intercept[IllegalArgumentException] {
        Similarity.publishIndexVersion(spark, alias.toString, "v-missing")
      }
      // vacuum keep=2 is a no-op with two versions; keep=1 drops v-001
      // (directory AND superseded pointer) and the current version's
      // answers are untouched
      assert(Similarity.vacuumIndexVersions(spark, alias.toString) == 0)
      assert(java.nio.file.Files.exists(alias.resolve("v-001")))
      assert(Similarity.vacuumIndexVersions(spark, alias.toString,
        keepVersions = 1) == 1)
      assert(!java.nio.file.Files.exists(alias.resolve("v-001")))
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v-002")
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir,
        Similarity.resolveIndexAlias(spark, alias.toString))) == r2)
      // rollback lever: re-publishing a kept name flips the alias back
      Similarity.publishIndexVersion(spark, alias.toString, "v-002")
      assert(Similarity.resolveIndexAlias(spark, alias.toString)
        == s"$alias/v-002")
    } finally graft.streaming.StreamingStaging.deleteRecursively(alias)
  }

  test("production build (bounded trainers) retains the exact form's answers") {
    val root = tempRoot()
    try {
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      // the in-query form the DuckDB gate checks (sim_ann_ivfpq,
      // OracleGateSpec) is the reference here
      val exact = Similarity.annIvfPqProd(spark, dir).collect()
        .groupBy(_.getLong(0))
        .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
      val prod = Similarity.annIvfPqIndexed(spark, dir, root.toString)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
      assert(exact.nonEmpty)
      val retention = exact.map { case (v, ex) =>
        (ex intersect prod.getOrElse(v, Set.empty)).size.toDouble / ex.size
      }.sum / exact.size
      info(f"persisted-prod retention vs in-query annIvfPqProd: $retention%.3f")
      assert(retention >= 0.9,
        f"production index lost too much: $retention%.3f (floor 0.9)")
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("a batch id that prefixes another's never claims its files") {
    // '-' is legal inside batch ids, so batch "takedown-2026-08"'s
    // recovery scan must not delete the committed tombstones of batch
    // "takedown-2026-08-15" — for deletes that failure mode silently
    // RESURRECTS privacy-erased vectors.
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      Similarity.deleteFromIvfPqIndex(spark,
        e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
        root.toString, "takedown-2026-08-15")
      val firstBatch = fileHashes(root).keySet
        .filter(_.startsWith("tombstones.parquet/"))
      assert(firstBatch.nonEmpty)
      Similarity.deleteFromIvfPqIndex(spark,
        e.filter(col("vec_id") % 10 === 6).select(col("vec_id")),
        root.toString, "takedown-2026-08")
      val afterSecond = fileHashes(root).keySet
      firstBatch.foreach(f => assert(afterSecond.contains(f),
        s"the prefix batch's recovery deleted $f — erased vectors resurface"))
      val rows = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      assert(rows.nonEmpty)
      assert(rows.forall(r =>
        r._1 % 10 != 5 && r._2 % 10 != 5 && r._1 % 10 != 6 && r._2 % 10 != 6),
        "an erased vector from one of the two batches is being served")
      // the appended-postings path shares the naming scheme — pin the
      // matcher itself on the adversarial shapes
      assert(Similarity.isBatchFileOf("batch-a-b-0.parquet", "a-b"))
      assert(!Similarity.isBatchFileOf("batch-a-b-0.parquet", "a"))
      assert(!Similarity.isBatchFileOf("batch-a-3.parquet", "a-3"))
      assert(Similarity.isBatchFileOf("batch-a-3.parquet", "a"))
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("uncommitted or empty tombstones are invisible and break nothing") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val before = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      // crash window 1: mkdirs(tombstones.parquet) happened, no file
      // landed — an empty dir must not fail schema inference for every
      // query on the index
      java.nio.file.Files.createDirectories(root.resolve("tombstones.parquet"))
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
        == before, "an empty tombstone dir changed (or broke) the query")
      // crash window 2: a tombstone file was published but the commit
      // marker never landed — queries must NOT honor the uncommitted
      // erasure (it may yet be rolled back by recovery)
      val ids = e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      ids.coalesce(1).write.mode("overwrite")
        .parquet(root.resolve("_tmp_tomb").toString)
      val part = {
        val walk = java.nio.file.Files.list(root.resolve("_tmp_tomb"))
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq.head
        finally walk.close()
      }
      java.nio.file.Files.copy(part,
        root.resolve("tombstones.parquet").resolve("batch-crashed-0.parquet"))
      assert(resultRows(Similarity.annIvfPqIndexed(spark, dir, root.toString))
        == before, "an UNCOMMITTED tombstone file was honored by the query")
      // the retried delete commits — only now does the erasure apply
      Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, "crashed")
      val after = resultRows(
        Similarity.annIvfPqIndexed(spark, dir, root.toString))
      assert(after.nonEmpty)
      assert(after.forall(r => r._1 % 10 != 5 && r._2 % 10 != 5))
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("drift-triggered retrain rotates the alias under live reads") {
    // the closed loop: appends drift → retrainIfDrifted ships a new
    // version → readers that resolved the alias BEFORE the rotation
    // keep serving identical rows from the old version (immutable until
    // vacuum), new resolutions serve the fresh-build-equal new version
    val alias = tempRoot()
    val scratch = tempRoot()
    try {
      import org.apache.spark.sql.functions.{lit, transform, when}
      val e = graft.sources.Tables.embeddings(spark, dir)
      val base = e.filter(col("vec_id") % 8 =!= 7)
      Similarity.buildIvfPqIndexProdOn(spark, base, s"$alias/v1")
      Similarity.publishIndexVersion(spark, alias.toString, "v1")
      // a long-lived reader resolves once and keeps the path
      val preResolved = Similarity.resolveIndexAlias(spark, alias.toString)
      assert(preResolved.endsWith("/v1"))
      val qs = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 300000L).as("query_id"),
          transform(col("embedding").cast("array<double>"),
            (x, i) => when(i < 4, x + lit(0.05)).otherwise(x)).as("qev"))
      def search(indexDir: String) =
        Similarity.searchIvfPqIndex(spark, qs, dir, indexDir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
      // day 1: in-distribution append — drift within tolerance, NO ship
      Similarity.appendToIvfPqIndexProd(spark,
        e.filter(col("vec_id") % 16 === 7), preResolved, "day1")
      assert(Similarity.retrainIfDrifted(spark, alias.toString,
        e, threshold = 0.10, versionName = "v2").isEmpty,
        "an in-distribution append triggered a retrain")
      val rowsBefore = search(preResolved)
      assert(rowsBefore.nonEmpty)
      // day 2: the corpus MOVED (every dimension shifted) — drift
      // crosses the threshold and the retrain ships v2, trained on the
      // caller's current full corpus
      val shifted = e.filter(col("vec_id") % 8 === 3)
        .select((col("vec_id") + 500000L).as("vec_id"),
          transform(col("embedding"),
            x => (x + lit(0.6f)).cast("float")).as("embedding"))
      Similarity.appendToIvfPqIndexProd(spark, shifted, preResolved, "day2")
      val corpusNow = base.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 16 === 7)
          .select(col("vec_id"), col("embedding")))
        .unionByName(shifted)
      val rowsDuring = search(preResolved) // v1 + both appends, pre-swap
      assert(Similarity.retrainIfDrifted(spark, alias.toString,
        corpusNow, threshold = 0.10, versionName = "v2").contains("v2"))
      // DURING: the pre-rotation reader's resolved version still serves
      // byte-identical answers — the swap is invisible to it
      assert(search(preResolved) == rowsDuring,
        "rotation disturbed a reader holding the old version")
      // AFTER: a fresh resolution serves the new version, bit-equal to
      // the same build shipped without any rotation machinery
      val postResolved = Similarity.resolveIndexAlias(spark, alias.toString)
      assert(postResolved.endsWith("/v2"))
      Similarity.buildIvfPqIndexProdOn(spark, corpusNow, scratch.toString)
      assert(search(postResolved) == search(scratch.toString),
        "rotated version diverges from the equivalent fresh build")
      // the freshly-rotated version has no appends: the loop is stable
      // (no retrain storm off the previous version's drift history)
      assert(Similarity.retrainIfDrifted(spark, alias.toString,
        corpusNow, threshold = 0.10, versionName = "v3").isEmpty)
      // vacuum to 1 version: the rollback target (v1) is dropped, the
      // live version keeps serving
      assert(Similarity.vacuumIndexVersions(spark, alias.toString,
        keepVersions = 1) == 1)
      assert(!java.nio.file.Files.exists(alias.resolve("v1")))
      assert(search(postResolved) == search(scratch.toString))
    } finally {
      graft.streaming.StreamingStaging.deleteRecursively(alias)
      graft.streaming.StreamingStaging.deleteRecursively(scratch)
    }
  }

  test("describeIndex reports the lifecycle's exact bookkeeping") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      val base = e.filter(col("vec_id") % 8 =!= 7)
      Similarity.buildIvfPqIndexProdOn(spark, base, root.toString)
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 8 === 7),
        root.toString, "day1")
      val ids = e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, "erasure-1")
      val row = Similarity.describeIndex(spark, root.toString).head()
      assert(row.getAs[Long]("n_vectors") == e.count())
      assert(row.getAs[Long]("cells") ==
        spark.read.parquet(s"$root/centroids.parquet").count())
      assert(row.getAs[Int]("auto_nprobe") == 8) // fixture scale = floor
      assert(row.getAs[Long]("committed_appends") == 1L)
      assert(row.getAs[Long]("committed_deletes") == 1L)
      assert(row.getAs[Long]("tombstoned_ids") == ids.count())
      // the append left its touched cells with 2 files — a backlog
      assert(row.getAs[Long]("fragmented_cells") > 0L)
      assert(row.getAs[String]("last_batch_id") == "day1")
      assert(row.getAs[Double]("last_drift") < 0.0)
      // compaction drains the backlog; everything else is unchanged
      Similarity.compactIvfPqIndex(spark, root.toString)
      val after = Similarity.describeIndex(spark, root.toString).head()
      assert(after.getAs[Long]("fragmented_cells") == 0L)
      assert(after.getAs[Long]("n_vectors") == e.count())
      assert(after.getAs[Long]("tombstoned_ids") == ids.count())
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("the recall canary scores the live index against exact ground truth") {
    val root = tempRoot()
    try {
      Similarity.buildIvfPqIndexProd(spark, dir, root.toString)
      val row = Similarity.indexRecallProbe(spark, dir, root.toString).head()
      val n = graft.sources.Tables.embeddings(spark, dir).count()
      assert(row.getAs[Long]("n_vectors") == n)
      val sampled = row.getAs[Long]("sampled_queries")
      assert(sampled > 100L && sampled <= n)
      assert(row.getAs[Int]("k") == 3)
      val recall = row.getAs[Double]("recall_at_k")
      info(f"canary recall@3 = $recall%.3f over $sampled queries")
      // corpus members query their own index: the source vector alone
      // guarantees 1/3, and the fixture configuration measures well
      // above the 0.5 floor — a collapse below it is a broken index
      assert(recall > 0.5 && recall <= 1.0)
      // deterministic: the canary is a measurement, not a sample draw
      assert(Similarity.indexRecallProbe(spark, dir, root.toString)
        .head().getAs[Double]("recall_at_k") == recall)
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("append seqs are minted create-once — a raced seq is never shared") {
    val root = tempRoot()
    try {
      val e = graft.sources.Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark, e.filter(col("vec_id") % 8 < 6),
        root.toString)
      // a concurrent writer already claimed seq 0 (its marker may land
      // later or never) — this append must observe the claim and mint
      // seq 1, not silently share 0 and collide in the drift report
      val ifs = graft.sources.IndexFs.on(spark, root.toString)
      ifs.createUtf8(ifs.child("_append_log", "ord-000000000000"),
        "some-other-batch")
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 8 === 6),
        root.toString, "day1")
      val report = Similarity.indexDriftReport(spark, root.toString)
        .select(col("batch_id"), col("seq")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(report.toSeq == Seq(("day1", 1L)),
        s"raced append minted the wrong seq: ${report.toSeq}")
      // the retried append reuses the seq it already owns
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 8 === 6),
        root.toString, "day1")
      assert(Similarity.indexDriftReport(spark, root.toString)
        .select(col("seq")).collect().map(_.getLong(0)).toSeq == Seq(1L))
      // and the next batch continues past both claims
      Similarity.appendToIvfPqIndexProd(spark, e.filter(col("vec_id") % 8 === 7),
        root.toString, "day2")
      assert(Similarity.indexDriftReport(spark, root.toString)
        .select(col("batch_id"), col("seq")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("day1", 1L), ("day2", 2L)))
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }
}
