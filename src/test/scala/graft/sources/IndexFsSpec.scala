package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import org.apache.hadoop.fs.Path

import graft.TestSpark

/** The persisted-index metadata filesystem layer: every commit-log /
  * publish / recovery primitive the exactly-once append protocol leans
  * on, pinned on the local scheme the suites run against. The point of
  * the layer is that these SAME calls resolve to the index root's own
  * `FileSystem` when the root is `hdfs://`/`s3a://` — the protocol's
  * portability reduces to this contract. */
class IndexFsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(): (IndexFs, java.nio.file.Path) = {
    val root = java.nio.file.Files.createTempDirectory("graft_ifs")
    (IndexFs.on(spark, root.toString), root)
  }

  test("local roots unwrap to the raw filesystem — no .crc sidecars") {
    val (ifs, root) = fresh()
    try {
      // the local FS is checksum-wrapped by default; markers written
      // through the wrapper would sprout `.batch-N.crc` siblings that
      // poison marker counts and prefix scans
      ifs.touch(ifs.child("_append_log", "batch-7"))
      val entries = java.nio.file.Files.list(root.resolve("_append_log"))
      import scala.jdk.CollectionConverters._
      val names = try entries.iterator().asScala
        .map(_.getFileName.toString).toVector
      finally entries.close()
      assert(names == Vector("batch-7"), s"unexpected entries: $names")
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("markers are create-once: a second touch fails loudly") {
    val (ifs, root) = fresh()
    try {
      val m = ifs.child("_append_log", "batch-1")
      ifs.touch(m)
      assert(ifs.exists(m))
      intercept[java.io.IOException] { ifs.touch(m) }
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("move creates parents, replaces the target, and is a rename") {
    val (ifs, root) = fresh()
    try {
      val src = ifs.child("staging", "f.parquet")
      ifs.mkdirs(src.getParent)
      ifs.touch(src)
      val dst = ifs.child("postings.parquet", "centroid_id=3",
        "batch-b1-0.parquet")
      ifs.move(src, dst)
      assert(!ifs.exists(src) && ifs.exists(dst))
      // replace: publishing over a leftover orphan wins
      val src2 = ifs.child("staging", "g.parquet")
      ifs.touch(src2)
      ifs.move(src2, dst)
      assert(!ifs.exists(src2) && ifs.exists(dst))
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("recursive listing is path-sorted and vacuous on absent roots") {
    val (ifs, root) = fresh()
    try {
      assert(ifs.listFilesRec(ifs.child("nope")).isEmpty)
      assert(ifs.listDir(ifs.child("nope")).isEmpty)
      ifs.touch(ifs.child("d", "centroid_id=2", "b.parquet"))
      ifs.touch(ifs.child("d", "centroid_id=1", "a.parquet"))
      val got = ifs.listFilesRec(ifs.child("d")).map(_.getName)
      assert(got == Vector("a.parquet", "b.parquet"))
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }

  test("the full index lifecycle runs on a non-file scheme") {
    // register the fake scheme, then run build → day-0 drift → append →
    // RETRIED append → query against `graftfs:` URIs end-to-end: every
    // metadata touch that still went through java.nio.file would either
    // throw on the non-file URI or silently miss the marker (making the
    // retry double-append — caught by the file-list and row asserts)
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_ifs_scheme")
    val root = "graftfs:" + local.toString
    try {
      val dir = graft.TestSpark.sfDir
      val e = Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark,
        e.filter(col("vec_id") % 8 =!= 7), root)
      assert(GraftTestFs.ops.get() > 0L,
        "no traffic routed through the graftfs scheme — scheme not exercised")
      // day 0: the no-appends guard must consult the graftfs store
      assert(Similarity.indexDriftReport(spark, root).count() == 0L)
      val delta = e.filter(col("vec_id") % 8 === 7)
      Similarity.appendToIvfPqIndexProd(spark, delta, root, "d1")
      val ifs = IndexFs.on(spark, root)
      def postingFiles() = ifs
        .listFilesRec(ifs.child("postings.parquet")).map(_.toString)
      def queryRows() = Similarity.annIvfPqIndexed(spark, dir, root)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val (files1, rows1) = (postingFiles(), queryRows())
      assert(rows1.nonEmpty)
      // a retried append must be a no-op: the marker lives on graftfs
      Similarity.appendToIvfPqIndexProd(spark, delta, root, "d1")
      assert(postingFiles() == files1,
        "retried append changed the postings file set — marker not honored")
      assert(queryRows() == rows1)
      val drift = Similarity.indexDriftReport(spark, root)
        .select(col("batch_id"), col("seq")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(drift == Seq(("d1", 0L)))
      // ERASURE on the same store: tombstones, the delete marker, and
      // the retry guard all live on graftfs
      val dead = e.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      Similarity.deleteFromIvfPqIndex(spark, dead, root, "t1")
      val rows2 = queryRows()
      assert(rows2.nonEmpty &&
        rows2.forall(r => r._1 % 10 != 5 && r._2 % 10 != 5))
      Similarity.deleteFromIvfPqIndex(spark, dead, root, "t1")
      assert(queryRows() == rows2,
        "retried delete changed answers — delete marker not honored on graftfs")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("alias rotation resolves and vacuums through a non-file scheme") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft_ifs_alias")
    val alias = "graftfs:" + local.toString
    try {
      val dir = graft.TestSpark.sfDir
      val e = Tables.embeddings(spark, dir)
      Similarity.buildIvfPqIndexProdOn(spark,
        e.filter(col("vec_id") % 8 =!= 7), s"$alias/v-001")
      Similarity.publishIndexVersion(spark, alias, "v-001")
      assert(Similarity.resolveIndexAlias(spark, alias) == s"$alias/v-001")
      Similarity.buildIvfPqIndexProdOn(spark, e, s"$alias/v-002")
      Similarity.publishIndexVersion(spark, alias, "v-002")
      assert(Similarity.resolveIndexAlias(spark, alias) == s"$alias/v-002")
      val rows = Similarity.annIvfPqIndexed(spark, dir,
        Similarity.resolveIndexAlias(spark, alias)).count()
      assert(rows > 0)
      val ifs = IndexFs.on(spark, alias)
      assert(Similarity.vacuumIndexVersions(spark, alias,
        keepVersions = 1) == 1)
      assert(!ifs.exists(ifs.child("v-001")) &&
        ifs.exists(ifs.child("v-002", "centroids.parquet")),
        "vacuum did not GC through the graftfs store")
    } finally graft.streaming.StreamingStaging.deleteRecursively(local)
  }

  test("child paths stay on the root") {
    val (ifs, root) = fresh()
    try {
      val p = ifs.child("_stats", "appends.parquet")
      assert(p.toString == new Path(new Path(root.toString, "_stats"),
        "appends.parquet").toString)
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }
}
