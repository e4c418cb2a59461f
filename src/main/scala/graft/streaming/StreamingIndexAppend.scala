package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING index maintenance — the continuous-ingest twin of the
  * persisted IVF-PQ index's delta append
  * ([[graft.operators.Similarity.appendToIvfPqIndexProd]]): a crawl lands
  * embeddings on a stream, and every micro-batch is assigned to the
  * FROZEN centroids, encoded with the FROZEN codebook, and appended
  * into only its cells' postings partitions. The index artifact grows
  * continuously; queries ([[graft.operators.Similarity.annIvfPqIndexed]]
  * / `searchIvfPqIndex`) read it between batches with no coordination —
  * parquet readers see whole files, and a partially-visible batch only
  * means a few very new vectors are not yet searchable (the same
  * freshness contract every streaming search service has).
  *
  * Exactly-once: `foreachBatch` is at-least-once on retry, and a
  * double-applied append would duplicate postings. The batch append API
  * itself carries the commit-log protocol
  * ([[graft.operators.Similarity.appendToIvfPqIndexProd]] →
  * `committedAppend`): a marker per batchId (`_append_log/batch-N`),
  * batch-TAGGED postings files staged then atomically renamed into the
  * live partitions, and recovery that deletes a crashed attempt's
  * orphans before re-applying — so a retry is a no-op not just after a
  * clean commit but after a crash at ANY point of the publish (the
  * marker-after-append race of the naive recipe).
  * `StreamingIndexAppendSpec` pins the replay equality
  * (streamed-maintained index ≡ the batch build+append on the same
  * splits, query-row bit-exact), the idempotency (re-applying a
  * committed batch changes no postings file), and partial-publish
  * recovery lives in `PersistedIndexSpec`.
  */
object StreamingIndexAppend {

  /** Commit-log-guarded append of one micro-batch (vec_id, embedding)
    * against the frozen artifacts at `indexDir` — the guard is inside
    * the shared batch API. */
  private[streaming] def appendBatch(spark: SparkSession, indexDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.Similarity.appendToIvfPqIndexProd(spark, batch,
      indexDir, batchId.toString)

  /** [[appendBatch]] against an ALIAS root instead of a fixed version
    * directory: the alias is resolved per micro-batch, so a retrain
    * that rotates the alias mid-stream
    * ([[graft.operators.Similarity.retrainIfDrifted]] /
    * `publishIndexVersion`) redirects the very next batch to the new
    * version without stopping the streaming query — the ingest-side
    * half of zero-downtime deploys (the read side is
    * `resolveIndexAlias` on the query path). Batches committed to the
    * SUPERSEDED version stay in its commit log: a version plus its
    * appends is immutable history, and the retrain's corpus snapshot
    * is what the new version starts from.
    *
    * The retry-after-rotation race is closed by a create-once ROUTING
    * claim, not by luck: before appending, the batch claims its target
    * version in the alias-level ingest log
    * (`_alias/_ingest_log/batch-N`, content = version name) — written
    * BEFORE the append, so a foreachBatch retry that arrives after a
    * rotation re-reads the claim and re-applies to the version the
    * batch originally targeted (where the per-version commit log makes
    * it a no-op), instead of re-resolving the alias and double-landing
    * the batch's rows in a new version whose build may already contain
    * them. Two concurrent attempts of one batch race on the
    * create-once claim; the loser reads the winner's routing. */
  def appendBatchAliased(spark: SparkSession, aliasDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val ifs = graft.sources.IndexFs.on(spark, aliasDir)
    val claim = ifs.child("_alias", "_ingest_log", s"batch-$batchId")
    // A routing claim is only trusted when it names an EXISTING version
    // directory: create-then-write is not atomic, so a crash between
    // the create and the content write leaves an existing-but-EMPTY
    // claim that a naive exists→read path would route to "$aliasDir/"
    // (an invalid version path). A torn claim here is either our own
    // crashed previous attempt (safe to delete and re-claim — no attempt
    // ever appended through it, the routing is what GATES the append) or
    // a concurrent winner mid-write (re-read catches it next pass).
    def validClaim(): Option[String] =
      if (!ifs.exists(claim)) None
      else {
        val c = scala.util.Try(ifs.readUtf8(claim)).getOrElse("")
        if (c.nonEmpty && !c.contains("/") && ifs.exists(ifs.child(c)))
          Some(c)
        else None
      }
    var version: String = null
    var attempts = 0
    while (version == null && attempts < 100) {
      attempts += 1
      validClaim() match {
        case Some(v) => version = v
        case None if ifs.exists(claim) =>
          // torn claim: a mid-write concurrent winner gets a GRACE
          // PERIOD of re-reads before the claim is condemned as a
          // crashed attempt's husk and deleted. One 20 ms beat was too
          // tight for the stores createUtf8's scaladoc targets (an
          // S3/ABFS/GCS PUT can sit longer than that between the
          // create and the content landing) — a live slow writer's
          // claim deleted mid-write lets two attempts of one batch
          // adopt DIFFERENT version routings. The grace is
          // conf-sized (`graft.index.tornClaimGraceMs`, default
          // 2000 ms — comfortably above object-store small-PUT tail
          // latency AND strictly above the coarsest common FS-
          // timestamp granularity (1 s): the sweep below keys on
          // modTime, so a grace at or below the quantum would let two
          // torn-claim epochs inside one quantum alias and delete a
          // live claimant's fresh claim); duplicate submissions remain
          // out of contract, this only prices the documented
          // assumption realistically.
          val graceMs = spark.conf
            .get("graft.index.tornClaimGraceMs", "2000").toLong
          val deadline = System.nanoTime() + graceMs * 1000000L
          while (version == null && System.nanoTime() < deadline) {
            Thread.sleep(20L)
            validClaim().foreach(v => version = v)
          }
          // Condemning the husk is SERIALIZED and re-verified, not a
          // blind delete (the reclaim TOCTOU, closed engine-wide in
          // round 14): a straggler whose grace expired could otherwise
          // delete a claim whose content landed just after — or a
          // FRESH claim re-created at the same name by a faster
          // sweeper — and the two attempts of one batch would adopt
          // different version routings. Sweep through a modTime-keyed
          // create-once marker; after winning, re-read the claim and
          // ADOPT it if it became valid. A crashed sweeper's marker is
          // reclaimed past a multi-grace horizon; a sweeper pausing
          // longer than that between steps is out of contract. (A TORN
          // claim has no content to stamp, so unlike the lease/marker
          // reclaims this re-verify keys on modTime: two torn-claim
          // epochs inside one store timestamp quantum can alias. The
          // grace default is 2× the coarsest common quantum, so an
          // aliasing fresh claim is at least one full quantum old at
          // the delete and the residual window needs a PUT tail beyond
          // 1.5× the priced assumption. The exposure is only the claim
          // FILE of a claimant that already adopted its routing
          // correctly, and it bites only if that batch is ALSO retried
          // after a rotation (the re-claim then routes to the new
          // version). Reaching it needs an out-of-contract concurrent
          // duplicate AND two torn writes inside one timestamp
          // quantum — strictly narrower than the unserialized sweep
          // this replaces.)
          if (version == null) {
            val ts = scala.util.Try(ifs.modTimeOf(claim)).getOrElse(-1L)
            if (ts >= 0) {
              val sweep = ifs.child("_alias", "_ingest_log",
                s"reclaim-batch-$batchId-$ts")
              val won =
                try { ifs.createUtf8(sweep, s"batch-$batchId:$ts"); true }
                catch {
                  case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                       _: org.apache.hadoop.fs.PathExistsException =>
                    // a sweep is a few metadata ops; a marker older
                    // than several grace periods is a crashed
                    // sweeper's husk (never merely a slow one)
                    val sweepHorizon = math.max(graceMs * 5, 5000L)
                    val sweepTs = scala.util.Try(ifs.modTimeOf(sweep))
                      .getOrElse(Long.MaxValue)
                    if (System.currentTimeMillis() - sweepTs > sweepHorizon)
                      ifs.deleteFile(sweep) // crashed sweeper's husk
                    false // loop re-reads; the live sweeper resolves it
                }
              if (won) {
                validClaim() match {
                  case Some(v) => version = v // content landed late: adopt
                  case None =>
                    if (scala.util.Try(ifs.modTimeOf(claim)).toOption
                        .contains(ts))
                      ifs.deleteFile(claim)
                }
                ifs.deleteFile(sweep)
              }
            } // else: the claim vanished — loop re-enters and re-claims
          }
        case None =>
          val resolved = new org.apache.hadoop.fs.Path(
            graft.operators.Similarity.resolveIndexAlias(spark, aliasDir))
            .getName
          // only the create-once races are adoption cases — a genuine
          // create failure (permissions, store down) must surface, not
          // be misread as "lost the race" ([[mintAppendSeq]]'s rule)
          try { ifs.createUtf8(claim, resolved); version = resolved }
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                 _: org.apache.hadoop.fs.PathExistsException => ()
          }
      }
    }
    require(version != null,
      s"could not establish a routing claim for batch $batchId under " +
        s"$aliasDir after $attempts attempts")
    // FAMILY GUARD (round 17): only the IVF-PQ lifecycle artifact has
    // an append protocol — LSH postings live in a bucketed table whose
    // file names encode the bucket id, so the rename-based exactly-once
    // append does not transfer (rebuild-per-corpus-version is that
    // family's documented cadence). An ingest attached across an
    // automated re-family ([[graft.operators.Similarity
    // .maintainIndexAlias]] — which itself DEFERS the verdict while
    // this log shows recent claims, so reaching here takes a re-family
    // published outside the quiet window) must fail LOUDLY with the
    // remedy, not crash mid-append inside the LSH artifact. Deleting
    // the claim is safe precisely because this guard runs before EVERY
    // append: no batch has ever appended through an LSH-routed claim,
    // so the claim gates nothing, and removing it lets the retry
    // re-resolve the alias after the operator re-routes it.
    val routedDir = s"$aliasDir/$version"
    val family = graft.operators.Similarity.indexFamilyOf(spark, routedDir)
    if (family != "ivf-pq-index") {
      ifs.deleteFile(claim)
      sys.error(s"batch $batchId is routed to $routedDir, a $family " +
        "artifact with no append protocol (LSH is rebuild-per-corpus-" +
        "version). Remedy: publish an ivf-pq-index version behind " +
        s"$aliasDir (maintainIndexAlias under a continuous-ingest " +
        "workload routes back), then retry the batch — its routing " +
        "claim has been released so the retry re-resolves the alias.")
    }
    appendBatch(spark, routedDir)(batch, batchId)
  }

  /** One MAINTENANCE turn after a committed micro-batch — the last mile
    * of the index lifecycle: compaction and drift stop being APIs a
    * human remembers to call and become a conditional on the append
    * cadence itself.
    *   - compaction: [[graft.operators.Similarity.compactIvfPqIndex]]
    *     self-gates on `maxFilesPerCell`, so it REWRITES cells only
    *     when this batch pushed them over the fragmentation threshold
    *     (0 cells touched otherwise — the common case);
    *   - drift: the batch's assignment-quality row joined against the
    *     build baseline (two tiny stats artifacts, no corpus scan) is
    *     published as `_stats/maintenance.parquet/batch-N.parquet` —
    *     (batch_id, n_vectors, mean_cos, drift, compacted_cells), one
    *     row per batch, the retrain-policy dashboard feed.
    * Idempotent like the append itself: the deterministic maintenance
    * file name is the commit marker — a retried batch whose maintenance
    * row exists skips the turn; a crash between compaction and the row
    * write re-runs compaction (query-row-invariant, `PersistedIndexSpec`)
    * and rewrites the row. Run AFTER the append so its recovery has
    * already reconciled any partial publish (see `committedAppend`). */
  private[streaming] def maintainAfterBatch(spark: SparkSession,
      indexDir: String, batchId: Long, maxFilesPerCell: Int): Unit = {
    // all metadata touches on the index root's OWN filesystem
    // ([[graft.sources.IndexFs]]) — the maintenance marker must live
    // beside the artifact it guards, also when `indexDir` is remote
    val ifs = graft.sources.IndexFs.on(spark, indexDir)
    // FAMILY/STATS GUARD (round 17): the maintenance turn is defined
    // only for the IVF-PQ lifecycle artifact (compaction rewrites cell
    // postings files, the drift row joins the build baseline). Pointed
    // at an LSH version dir (an alias re-familied under a cadence that
    // still calls maintenance) or a foreign pre-stats artifact, it
    // NO-OPS rather than throwing on the missing centroids/_stats —
    // the append guard in [[appendBatchAliased]] is the loud failure;
    // maintenance after a guarded-out append must not add a second
    // crash site.
    if (!ifs.exists(ifs.child("centroids.parquet")) ||
        !ifs.exists(ifs.child("_stats", "build.parquet"))) return
    val live = ifs.child("_stats", "maintenance.parquet")
    ifs.mkdirs(live)
    val mfile = ifs.child("_stats", "maintenance.parquet",
      s"batch-$batchId.parquet")
    if (ifs.exists(mfile)) return
    val compacted = graft.operators.Similarity.compactIvfPqIndex(
      spark, indexDir, maxFilesPerCell)
    val build = spark.read.parquet(s"$indexDir/_stats/build.parquet")
      .select(col("mean_cos").as("build_mean_cos"))
    val row = spark.read
      .parquet(s"$indexDir/_stats/appends.parquet/batch-$batchId-*.parquet")
      .crossJoin(broadcast(build))
      .select(lit(batchId).as("batch_id"), col("n_vectors"), col("mean_cos"),
        (col("mean_cos") - col("build_mean_cos")).as("drift"),
        lit(compacted).as("compacted_cells"))
    // stage on the same store as the artifact, then one rename publishes
    val tmp = ifs.child("_append_staging", s"maint-$batchId")
    ifs.deleteRecursive(tmp)
    try {
      row.coalesce(1).write.mode("overwrite").parquet(
        new org.apache.hadoop.fs.Path(tmp, "m").toString)
      val part = ifs
        .listFilesRec(new org.apache.hadoop.fs.Path(tmp, "m"))
        .filter(_.getName.endsWith(".parquet")).head
      ifs.move(part, mfile)
    } finally ifs.deleteRecursive(tmp)
  }

  /** Build the index on the base split (vec_id % 8 ≠ 7), replay the
    * delta split as a file-source stream staged as TWO files with
    * `maxFilesPerTrigger = 1` — two "days" of crawl, two micro-batches —
    * appending each batch through the idempotent commit log AND running
    * the maintenance turn ([[maintainAfterBatch]]: threshold-gated
    * compaction + the batch's drift row) after each commit, then run
    * the standard indexed query over the full corpus. The default
    * threshold (4) never compacts on this two-batch fixture (cells peak
    * at 3 files); `StreamingIndexAppendSpec` drives a threshold-2 run
    * where batch 1 crosses and compaction fires exactly once. */
  def indexDeltaStreaming(spark: SparkSession, dir: String,
      indexDir: String, maxFilesPerCell: Int = 4): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
    graft.operators.Similarity.buildIvfPqIndexProdOn(spark,
      e.filter(col("vec_id") % 8 =!= 7), indexDir)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream_idxapp")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_idxapp_ckpt")
    try {
      e.filter(col("vec_id") % 16 === 7).coalesce(1)
        .write.mode("append").parquet(streamDir.toString)
      e.filter(col("vec_id") % 16 === 15).coalesce(1)
        .write.mode("append").parquet(streamDir.toString)
      val stream = spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      val query = stream.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          appendBatch(spark, indexDir)(b, id)
          maintainAfterBatch(spark, indexDir, id, maxFilesPerCell)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      try query.processAllAvailable() finally query.stop()
    } finally {
      StreamingStaging.deleteRecursively(streamDir)
      StreamingStaging.deleteRecursively(ckpt)
    }
    graft.operators.Similarity.annIvfPqIndexed(spark, dir, indexDir)
  }
}
