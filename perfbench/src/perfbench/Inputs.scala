package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SplitMix64 — every generated input is a pure function of
  * (workload seed, stream tag, row id), so inputs are the same for the
  * same seed whatever the partitioning, and unrelated for two seeds. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextGaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * nextDouble())
  }
  def shuffle[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Independent stream for (seed, tag, id): the seed is mixed in before
    * the id, so neighbouring seeds do not produce shifted copies. */
  def of(seed: Long, tag: String, id: Long): Rng =
    new Rng(mix(mix(seed ^ mix(tag.hashCode.toLong)) + id))
}

/** Seeded synthetic inputs. Generated outside the timed window and cached
  * per seed under the run's input directory. */
object Inputs {
  val Dim = 64

  /** Clustered embeddings with planted neighbour groups of four (ids
    * 4g..4g+3 share a group offset), the retrieval shape on which
    * recall@k is well posed. The cluster count is fixed; `n` densifies. */
  def embeddingRow(seed: Long, id: Long): (Long, Array[Float], Int) = {
    val k = 40
    val g = id / 4
    val grng = Rng.of(seed, "emb-group", g)
    val c = math.min(k - 1, (math.pow(grng.nextDouble(), 2.0) * k).toInt)
    val crng = Rng.of(seed, "emb-center", c.toLong)
    val rng = Rng.of(seed, "emb-row", id)
    val v = Array.tabulate(Dim) { _ =>
      (crng.nextGaussian() * 0.12 + grng.nextGaussian() * 0.05 +
        rng.nextGaussian() * 0.015).toFloat
    }
    (id, v, java.lang.Math.floorMod(Rng.mix(seed + id), 10L).toInt)
  }

  /** Rows `[from, until)` as (vec_id, embedding, label). */
  def embeddings(spark: SparkSession, seed: Long, from: Long,
      until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(embeddingRow(seed, _)).toDF("vec_id", "embedding", "label")
  }

  /** External query vectors (query_id, qev): a perturbed copy of a seeded
    * corpus member, so each query has a dense true neighbourhood. */
  def queryVectors(seed: Long, batch: Long, n: Int,
      corpusSize: Long): Seq[(Long, Seq[Double])] =
    (0 until n).map { i =>
      val r = Rng.of(seed, "query", batch * 1000003L + i)
      val base = embeddingRow(seed, java.lang.Math.floorMod(r.nextLong(), corpusSize))._2
      (batch * 1000L + i, base.toSeq.map(x => x.toDouble + r.nextGaussian() * 0.01))
    }

  private val Common = Array("the", "a", "of", "is", "and", "data", "query",
    "table", "stream", "batch", "value", "join", "scan", "spark")

  private val ZipfV = 20000
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(ZipfV)(i => 1.0 / (i + 1.0))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def word(rng: Rng): String =
    if (rng.nextInt(5) == 0) Common(rng.nextInt(Common.length))
    else {
      var idx = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
      if (idx < 0) idx = -idx - 1
      "w" + math.min(idx, ZipfV - 1)
    }

  private def wordsOf(seed: Long, id: Long): Array[String] = {
    val rng = Rng.of(seed, "doc", id)
    Array.fill(40 + rng.nextInt(120))(word(rng))
  }

  private val Langs = Array("en", "fr", "de", "es", "zh")

  /** A Zipfian document of 40–159 words over a 20,000-word vocabulary
    * with common English words mixed in (the quality rules need them). */
  def documentRow(seed: Long, id: Long): (Long, String, String, String, Long) = {
    val text = wordsOf(seed, id).mkString(" ")
    val r = Rng.of(seed, "doc-meta", id)
    (id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(16)}", text.length.toLong)
  }

  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    val s = seed
    spark.range(n).as[Long].map(id => documentRow(s, id))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Write a seed's inputs once; a `_DONE` marker makes the cache safe
    * against a run cut mid-write. */
  def cached(dir: Path)(write: String => Unit): Unit =
    if (!Files.exists(dir.resolve("_DONE"))) {
      Files.createDirectories(dir)
      write(dir.toString)
      Files.writeString(dir.resolve("_DONE"), "")
    }
}
