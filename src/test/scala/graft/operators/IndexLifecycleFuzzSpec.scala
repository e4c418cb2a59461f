package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.TestSpark

/** Deterministic randomized exercise of the persisted-index LIFECYCLE:
  * a seeded sequence of appends (some retried), erasure batches (ids
  * with '-'-bearing names that prefix each other — the round-12
  * recovery-ambiguity class), and threshold compactions, checked after
  * every step against a driver-side model of what must be live. The
  * point is not any single verb (each has its own spec) but their
  * INTERLEAVING: the commit-log protocol claims any retry or
  * maintenance order converges, so a fuzzed order must hold
  *   (a) live set: postings rows minus tombstones == model live ids;
  *   (b) erasure: no tombstoned id ever queries or serves;
  *   (c) ordering: drift-report seqs strictly increase in commit order;
  *   (d) idempotency: retried verbs change no artifact byte;
  *   (e) bookkeeping: describeIndex counts match the model exactly. */
class IndexLifecycleFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  test("a seeded interleaving of lifecycle verbs keeps every invariant") {
    val root = java.nio.file.Files.createTempDirectory("graft_fuzz")
    try {
      val rng = new scala.util.Random(4242L) // fixed seed: deterministic
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val base = e.filter(col("vec_id") % 4 =!= 3)
      Similarity.buildIvfPqIndexProdOn(spark, base, root.toString)

      // the model: which vec_ids must be live / tombstoned
      var live = base.select(col("vec_id")).collect()
        .map(_.getLong(0)).toSet
      var tombstoned = Set.empty[Long]
      var appendSeqs = Vector.empty[(String, Long)]
      var appendsDone = 0
      var deletesDone = 0
      // fresh ids come from shifted fixture slices — 8 disjoint pools
      val pools = (0 until 8).map { k =>
        e.filter(col("vec_id") % 8 === k)
          .select((col("vec_id") + (1000000L * (k + 1))).as("vec_id"),
            col("embedding"))
      }
      var nextPool = 0

      def fileHashes(): Map[String, String] = {
        import scala.jdk.CollectionConverters._
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

      def checkInvariants(step: String): Unit = {
        val postings = spark.read.parquet(s"$root/postings.parquet")
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
        // (a) physical rows may still hold tombstoned ids (purge is
        // compaction's job) but LIVE visibility is rows minus tombstones
        assert((postings -- tombstoned) == live,
          s"[$step] visible set diverged from the model")
        // stats count COMMITTED rows (build + appends); erasure does not
        // decrement them — the tombstone list is the subtraction
        val row = Similarity.describeIndex(spark, root.toString).head()
        assert(row.getAs[Long]("n_vectors") == live.size + tombstoned.size,
          s"[$step] stats n_vectors diverged") // (e)
        assert(row.getAs[Long]("committed_appends") == appendsDone,
          s"[$step] append count diverged")
        assert(row.getAs[Long]("committed_deletes") == deletesDone,
          s"[$step] delete count diverged")
        assert(row.getAs[Long]("tombstoned_ids") == tombstoned.size,
          s"[$step] tombstone count diverged")
        // (c) commit order carried in the drift rows
        val seqs = Similarity.indexDriftReport(spark, root.toString)
          .select(col("batch_id"), col("seq")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toVector.sortBy(_._2)
        assert(seqs == appendSeqs.sortBy(_._2),
          s"[$step] drift report order diverged: $seqs vs $appendSeqs")
        assert(seqs.map(_._2) == seqs.map(_._2).distinct,
          s"[$step] duplicate drift seq minted")
      }

      val batchNames = Vector("b", "b-1", "b-1-2", "takedown-2026-08",
        "takedown-2026-08-15", "x-9", "x")
      (1 to 8).foreach { step =>
        rng.nextInt(3) match {
          case 0 => // append a fresh pool under an ambiguity-prone name
            val name = s"${batchNames(step % batchNames.size)}-a$step"
            val delta = pools(nextPool % pools.size); nextPool += 1
            Similarity.appendToIvfPqIndexProd(spark, delta, root.toString, name)
            val ids = delta.select(col("vec_id")).collect()
              .map(_.getLong(0)).toSet
            live ++= ids
            appendsDone += 1
            appendSeqs :+= (name, Similarity
              .indexDriftReport(spark, root.toString)
              .filter(col("batch_id") === name)
              .select(col("seq")).head().getLong(0))
            // (d) the retry must be a byte-level no-op
            val once = fileHashes()
            Similarity.appendToIvfPqIndexProd(spark, delta, root.toString, name)
            assert(fileHashes() == once, s"[$step] retried append mutated")
          case 1 => // erase a random slice of the live set
            val name = s"${batchNames(step % batchNames.size)}-d$step"
            val victims = live.toVector.sorted
              .filter(_ => rng.nextDouble() < 0.15).toSet
            if (victims.nonEmpty) {
              import spark.implicits._
              val ids = victims.toSeq.toDF("vec_id")
              Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, name)
              live --= victims
              tombstoned ++= victims
              deletesDone += 1
              val once = fileHashes()
              Similarity.deleteFromIvfPqIndex(spark, ids, root.toString, name)
              assert(fileHashes() == once, s"[$step] retried delete mutated")
            }
          case 2 => // maintenance: threshold or full-purge compaction
            val threshold = if (rng.nextBoolean()) 1 else 0
            Similarity.compactIvfPqIndex(spark, root.toString, threshold)
            if (threshold == 0) {
              // a full pass physically purged everything tombstoned
              val left = spark.read.parquet(s"$root/postings.parquet")
                .select(col("vec_id")).collect().map(_.getLong(0)).toSet
              assert((left & tombstoned).isEmpty,
                s"[$step] full purge left tombstoned rows")
            }
        }
        checkInvariants(s"step $step")
      }

      // (b) end-to-end: the query serves exactly the live world —
      // no tombstoned id on either side, ranks dense
      val res = Similarity.annIvfPqIndexed(spark, dir, root.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(res.nonEmpty)
      res.foreach { case (q, n, _) =>
        assert(!tombstoned.contains(q) && !tombstoned.contains(n),
          s"tombstoned id served: query $q neighbor $n")
      }
      res.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.map(_._3).toSeq.sorted == (1L to rs.size).toSeq,
          s"query $q has non-dense ranks after the fuzzed lifecycle")
      }
    } finally graft.streaming.StreamingStaging.deleteRecursively(root)
  }
}
