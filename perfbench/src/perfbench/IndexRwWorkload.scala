package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Similarity

/** `index_rw`: a persisted IVF-PQ index and a persisted LSH index over a
  * seeded clustered-embedding corpus, driven by a seeded closed-loop mix
  * of searches (both families, filtered and not) beside writes (IVF-PQ
  * delta appends, tombstone deletes on both families) and periodic
  * maintenance (IVF-PQ compaction and a full purge pass).
  *
  * The harness keeps its own model of each index's live set — base +
  * appended − deleted — and checks every search against it: no result
  * may name a deleted or never-inserted vector, and a filtered search
  * must stay inside its filter. Quality is the mean recall of the IVF-PQ
  * searches against an exact cosine top-k over the live set, computed
  * here in plain Scala. */
object IndexRwWorkload extends Workload {
  val BaseVectors = 4000L
  val PoolVectors = 2000L
  val QueriesPerSearch = 12
  val AppendBatch = 32
  val DeleteBatch = 16
  /** Nominal length of one round on 4 cores: a run times
    * ⌈seconds / RoundSeconds⌉ whole rounds, the same number on any
    * machine. */
  val RoundSeconds = 12
  /** Logical size of one change: a postings row (vec_id, code, cell) and
    * a tombstone (vec_id) — the base of `sources.write_amp`. */
  val PostingBytes = 24L
  val TombstoneBytes = 8L

  final class Model(base: Map[Long, (Array[Double], Int)]) {
    val vecs: mutable.Map[Long, (Array[Double], Int)] = mutable.Map.from(base)
    val ivfLive: mutable.Set[Long] = mutable.Set.from(base.keys)
    val lshLive: mutable.Set[Long] = mutable.Set.from(base.keys)
    val ivfDeleted: mutable.Set[Long] = mutable.Set.empty
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Exact cosine top-k of `q` over `ids`. */
  def exactTopK(m: Model, q: Array[Double], ids: Iterable[Long], k: Int): Set[Long] = {
    val uq = unit(q)
    ids.iterator.map { id =>
      val v = m.vecs(id)._1
      var dot = 0.0; var nv = 0.0; var i = 0
      while (i < v.length) { dot += uq(i) * v(i); nv += v(i) * v(i); i += 1 }
      (id, dot / math.sqrt(nv))
    }.toVector.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
  }

  def run(a: Args): String = {
    val gen0 = System.nanoTime()
    val inputs = a.inputs.resolve(s"index_rw-${a.seed}-$BaseVectors-$PoolVectors")
    val starts = (1 to 3).map { i =>
      val (s, t) = Main.timedSession(a, s"index-$i")
      if (i < 3) s.stop()
      t
    }
    val spark = SparkSession.active
    Inputs.cached(inputs) { d =>
      Inputs.embeddings(spark, a.seed, 0, BaseVectors).repartition(4).write.parquet(s"$d/base")
      Inputs.embeddings(spark, a.seed, BaseVectors, BaseVectors + PoolVectors)
        .write.parquet(s"$d/pool")
    }
    // the run's own source table: a copy of the cached base corpus, which
    // appended vectors join (searches rerank from the source table)
    val src = a.work.resolve("src")
    val table = src.resolve("embeddings.parquet")
    Files.createDirectories(table)
    Files.list(inputs.resolve("base")).forEach { f =>
      if (f.getFileName.toString.endsWith(".parquet")) Files.copy(f, table.resolve(f.getFileName))
    }
    val model = new Model((0L until BaseVectors).map { id =>
      val (_, v, label) = Inputs.embeddingRow(a.seed, id)
      id -> ((v.map(_.toDouble), label))
    }.toMap)
    val pool = spark.read.parquet(inputs.resolve("pool").toString)
      .orderBy(col("vec_id")).collect()
    val genS = h0(gen0) - starts.sum

    val h = new Harness(a, spark)
    val ivfRoot = a.work.resolve("ivf").toString
    val lshRoot = a.work.resolve("lsh").toString
    val lshTable = "perfbench_lsh"
    val dir = src.toString

    // set-up: both index builds
    val b0 = System.nanoTime()
    Similarity.buildIvfPqIndexProdOn(spark, spark.read.parquet(table.toString), ivfRoot)
    Similarity.buildLshIndexProd(spark, dir, lshRoot, lshTable)
    val buildS = h0(b0)

    val rng = Rng.of(a.seed, "index-mix", 0)
    var nextPool = 0
    var batch = 0L
    val recalls = mutable.ArrayBuffer.empty[Double]
    val k = 3
    var appended = 0L
    var deleted = 0L

    def search(family: String, filtered: Boolean, timed: Boolean): Unit = {
      batch += 1
      val q = Inputs.queryVectors(a.seed, batch, QueriesPerSearch, BaseVectors)
      val qdf = { import spark.implicits._; q.toDF("query_id", "qev") }
      val labels = (0 until 3).map(_ => rng.nextInt(10)).toSet
      val allowed = if (!filtered) None else Some(
        spark.read.parquet(table.toString).filter(col("label").isin(labels.toSeq: _*))
          .select(col("vec_id")))
      val name = s"search_${family}${if (filtered) "_filtered" else ""}"
      val live = if (family == "ivfpq") model.ivfLive else model.lshLive
      var got = Map.empty[Long, Set[Long]]
      val r = h.op(name, "search", "sim", timed) { o =>
        val df = o.build((family, allowed) match {
          case ("ivfpq", None) => Similarity.searchIvfPqIndex(spark, qdf, dir, ivfRoot)
          case ("ivfpq", Some(al)) =>
            Similarity.searchIvfPqIndexFiltered(spark, qdf, dir, ivfRoot, al)
          case (_, None) => Similarity.searchLshIndex(spark, qdf, dir, lshTable)
          case (_, Some(al)) => Similarity.searchLshIndexFiltered(spark, qdf, dir, lshTable, al)
        })
        val rows = o.exec(df.select(col("query_id"), col("neighbor_id")).collect())
        got = rows.groupBy(_.getLong(0)).map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
        val ids = rows.map(_.getLong(1))
        val dead = ids.filterNot(live)
        val outside = if (!filtered) Array.empty[Long]
          else ids.filterNot(id => model.vecs.get(id).exists(v => labels(v._2)))
        Verdict.check(dead.isEmpty && outside.isEmpty && got.nonEmpty,
          s"dead ids ${dead.take(5).mkString(",")}; outside filter " +
            s"${outside.take(5).mkString(",")}; ${got.size} queries answered")
      }
      // recall against the exact answer, outside the timed op
      if (family == "ivfpq" && timed && r.ok) q.foreach { case (qid, qev) =>
        val cand = if (filtered) live.filter(id => labels(model.vecs(id)._2)) else live
        val truth = exactTopK(model, qev.toArray, cand, k)
        recalls += got.getOrElse(qid, Set.empty).intersect(truth).size.toDouble / truth.size
      }
    }

    def append(timed: Boolean): Unit = {
      val rows = (0 until AppendBatch).map(i => pool((nextPool + i) % pool.length))
        .filterNot(r => model.vecs.contains(r.getLong(0)))
      nextPool += AppendBatch
      if (rows.nonEmpty) {
        val delta = spark.createDataFrame(java.util.Arrays.asList(rows: _*), pool.head.schema)
        // the new vectors land in the source table first (untimed), as a
        // user's ingest job would write them before indexing
        delta.write.mode("append").parquet(table.toString)
        batch += 1
        val id = s"a$batch"
        h.op("append_ivfpq", "append", "sim", timed) { _ =>
          Similarity.appendToIvfPqIndexProd(spark, delta, ivfRoot, id)
          Verdict.Pass
        }
        if (timed) appended += rows.length
        rows.foreach { r =>
          model.vecs(r.getLong(0)) = (r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2))
          model.ivfLive += r.getLong(0)
        }
      }
    }

    def delete(lsh: Boolean, timed: Boolean): Unit = {
      val live = (if (lsh) model.lshLive else model.ivfLive).toVector.sorted
      val ids = (0 until DeleteBatch).map(_ => live(rng.nextInt(live.length))).distinct
      val idf = spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
          .StructField("vec_id", org.apache.spark.sql.types.LongType, nullable = false))))
      batch += 1
      val id = s"d$batch"
      h.op(if (lsh) "delete_lsh" else "delete_ivfpq", "delete", "sim", timed) { _ =>
        if (lsh) Similarity.deleteFromLshIndex(spark, idf, lshTable, id, Some(lshRoot))
        else Similarity.deleteFromIvfPqIndex(spark, idf, ivfRoot, id)
        Verdict.Pass
      }
      if (timed) deleted += ids.length
      if (lsh) model.lshLive --= ids
      else { model.ivfLive --= ids; model.ivfDeleted ++= ids }
    }

    def maintain(purge: Boolean, timed: Boolean): Unit =
      h.op(if (purge) "purge_ivfpq" else "compact_ivfpq", "maintain", "sim", timed) { _ =>
        Similarity.compactIvfPqIndex(spark, ivfRoot, if (purge) 0 else 1)
        Verdict.Pass
      }

    /** One round: every op kind once — four searches (both families,
      * filtered and not), an append, a delete on each family — in a
      * seeded order, then maintenance: a compaction pass (rewrites the
      * cells appends fragmented) and a purge pass (rewrites every cell
      * without its tombstoned rows). */
    val round = IndexedSeq[Boolean => Unit](
      search("ivfpq", filtered = false, _), search("ivfpq", filtered = true, _),
      search("lsh", filtered = false, _), search("lsh", filtered = true, _),
      append, delete(lsh = false, _), delete(lsh = true, _))
    def runRound(timed: Boolean): Unit = {
      rng.shuffle(round).foreach(_(timed))
      maintain(purge = false, timed)
      maintain(purge = true, timed)
    }

    // warm-up: one untimed round
    val w0 = System.nanoTime()
    runRound(timed = false)
    val warmupS = h0(w0)
    val setupS = Stats.median(starts) + buildS + warmupS

    val t0 = System.nanoTime()
    val rounds = math.max(1, math.ceil(a.seconds.toDouble / RoundSeconds).toInt)
    (1 to rounds).foreach(_ => runRound(timed = true))

    // end-of-run model check: the IVF-PQ index holds exactly the live set
    val onDisk = spark.read.parquet(s"$ivfRoot/postings.parquet").select("vec_id")
      .distinct().collect().map(_.getLong(0)).toSet
    val visible = onDisk -- model.ivfDeleted
    val modelOk = visible == model.ivfLive.toSet
    if (!modelOk) {
      h.results += OpResult(0, "live_set_check", "check", "sim", t0, System.nanoTime(),
        0.0, ok = false, None, unexpected = true,
        Some(s"index holds ${visible.size} live ids, model ${model.ivfLive.size}"))
    }
    val files = filesUnder(Seq(ivfRoot, lshRoot))
    val idxBytes = bytesUnder(Seq(ivfRoot, lshRoot))
    val live = model.ivfLive.size
    val writeOps = h.results.filter(r => r.kind == "append" || r.kind == "delete" ||
      r.kind == "maintain")
    val lat = (kind: String) => h.results.toSeq.filter(r => r.ok && r.kind == kind).map(_.wallS)
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.quantile(xs, p)
    val quality = Stats.mean(recalls.toSeq)
    Report.line(h, Report.Extra(setupS, quality, indexFiles = files,
      indexBytesPerLiveVec = idxBytes.toDouble / live,
      writeAmp = if (h.args.trace) writeOps.map(r => h.fsBytes.getOrElse(r.id, 0L)).sum.toDouble /
        (appended * PostingBytes + deleted * TombstoneBytes) else 0.0,
      info = Map("gen_s" -> genS, "session_start_s" -> starts,
        "build_s" -> buildS, "warmup_s" -> warmupS, "rounds" -> rounds,
        "search_p50_s" -> q(lat("search"), 0.5), "search_p90_s" -> q(lat("search"), 0.9),
        "append_p50_s" -> q(lat("append"), 0.5), "delete_p50_s" -> q(lat("delete"), 0.5),
        "maintain_p50_s" -> q(lat("maintain"), 0.5), "recall_at_3" -> quality,
        "live_vectors" -> live, "index_bytes_per_live_vec" -> idxBytes.toDouble / live,
        "index_files" -> files, "write_ops" -> writeOps.length)))
  }

  private def h0(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def walk(roots: Seq[String]): Seq[Path] = roots.flatMap { r =>
    val p = java.nio.file.Paths.get(r)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala
        .filter(Files.isRegularFile(_)).toVector } finally s.close()
    }
  }
  def filesUnder(roots: Seq[String]): Long =
    walk(roots).count(p => !p.getFileName.toString.endsWith(".crc")).toLong
  def bytesUnder(roots: Seq[String]): Long = walk(roots).map(Files.size).sum
}
