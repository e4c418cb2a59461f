package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators over the `documents` fixture — the training-data
  * pipeline surface beyond the reference's relational operators (SURVEY
  * §2.4 / §7 phase 5): token statistics, quality scoring, n-gram-heuristic
  * language ID, and document fingerprinting (md5 + Karp-Rabin-style
  * polynomial rolling hash).
  *
  * Every expression here is codegen'd built-ins (`functions._` — no UDFs),
  * and every query has a DuckDB oracle: the arithmetic is written so the
  * same formula evaluates bit-identically in both engines (integer counts,
  * double division in a fixed order, left-fold hashing in index order).
  *
  * Scale: all four queries are embarrassingly parallel single-pass scans —
  * no shuffle at all (narrow select over the parquet scan), so they scale
  * linearly with input splits on a 1000-executor cluster.
  */
object TextAnalysis {

  /** Whitespace tokens. Fixture text is single-space separated; a plain
    * space split keeps the oracle (`string_split(text, ' ')`) trivially
    * identical. */
  private val toks: Column = split(col("text"), " ")

  private def countIn(words: Seq[String]): Column =
    size(filter(toks, w => words.map(w === lit(_)).reduce(_ || _)))

  // Marker stopwords per language for the n-gram/stopword heuristic.
  private val EnWords = Seq("the", "a", "of", "is", "and")
  private val FrWords = Seq("le", "la", "les", "et", "un")
  private val DeWords = Seq("der", "die", "und", "ein", "ist")
  private val EsWords = Seq("el", "los", "y", "una", "es")

  private def sqlCount(words: Seq[String]): String = {
    val pred = words.map(w => s"w = '$w'").mkString(" OR ")
    s"len(list_filter(string_split(text, ' '), w -> $pred))"
  }

  /** Token statistics: counts, distinct ratio, average token length.
    * Single narrow projection — Catalyst prunes the scan to (doc_id, text). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = (
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(toks).cast("double")).as("avg_token_len")))

  val tokenStatsOracle: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
      |       CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
      |FROM documents ORDER BY 1, 2, 3, 4""".stripMargin

  /** Heuristic quality score: stopword ratio, lexical diversity, length
    * saturation — the classic cheap pre-filters for a pretraining corpus.
    * Formula (fixed evaluation order, both engines):
    *   q = 0.4·stop_ratio + 0.3·distinct_ratio + 0.3·min(1, n_tokens/100). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("double")
    val stopRatio = countIn(EnWords).cast("double") / nTok
    val distinctRatio = size(array_distinct(toks)).cast("double") / nTok
    val lenNorm = least(lit(1.0), nTok / lit(100.0))
    (Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("n_chars"),
        (lit(0.4) * stopRatio + lit(0.3) * distinctRatio + lit(0.3) * lenNorm)
          .as("quality")))
  }

  val qualityScoreOracle: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    s"""SELECT doc_id, n_chars,
       |       0.4 * (CAST(${sqlCount(EnWords)} AS DOUBLE) / $nTok)
       |     + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / $nTok)
       |     + 0.3 * least(1.0, $nTok / 100.0) AS quality
       |FROM documents ORDER BY 1, 2, 3""".stripMargin
  }

  /** Stopword-marker language ID (the n-gram-heuristic family): count
    * marker words per candidate language, argmax with a deterministic
    * tie-break order (en > fr > de > es). Emits the label column too so a
    * user can audit agreement. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val (cEn, cFr, cDe, cEs) =
      (countIn(EnWords), countIn(FrWords), countIn(DeWords), countIn(EsWords))
    (Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        cEn.cast("long").as("c_en"), cFr.cast("long").as("c_fr"),
        cDe.cast("long").as("c_de"), cEs.cast("long").as("c_es"),
        when(cEn >= cFr && cEn >= cDe && cEn >= cEs, "en")
          .when(cFr >= cDe && cFr >= cEs, "fr")
          .when(cDe >= cEs, "de")
          .otherwise("es").as("pred_lang")))
  }

  val langIdOracle: String = {
    val (cEn, cFr, cDe, cEs) =
      (sqlCount(EnWords), sqlCount(FrWords), sqlCount(DeWords), sqlCount(EsWords))
    s"""SELECT doc_id, lang AS labeled_lang,
       |       $cEn AS c_en, $cFr AS c_fr, $cDe AS c_de, $cEs AS c_es,
       |       CASE WHEN $cEn >= $cFr AND $cEn >= $cDe AND $cEn >= $cEs THEN 'en'
       |            WHEN $cFr >= $cDe AND $cFr >= $cEs THEN 'fr'
       |            WHEN $cDe >= $cEs THEN 'de'
       |            ELSE 'es' END AS pred_lang
       |FROM documents ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin
  }

  /** BPE-ish subword token counting: alongside the whitespace count, a
    * byte-pair-encoding-flavored regex segmentation (letter runs, digit
    * runs, single punctuation marks — the segmentation shape GPT-style
    * tokenizers apply before merges). The pattern uses only literal
    * classes so Java and DuckDB regex engines agree exactly. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    val pieces = regexp_extract_all(col("text"), lit(pattern), lit(0))
    (Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_ws_tokens"),
        size(pieces).cast("long").as("n_bpe_tokens"),
        (size(pieces).cast("double") / size(toks).cast("double"))
          .as("bpe_per_word")))
  }

  val bpeTokensOracle: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_ws_tokens,
      |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
      |         AS n_bpe_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS DOUBLE)
      |         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS bpe_per_word
      |FROM documents ORDER BY 1, 2, 3, 4""".stripMargin

  /** Document fingerprints: md5 of the raw text plus a Karp-Rabin-style
    * polynomial rolling hash (base 31, mod 1e9+7) left-folded over the
    * codepoints in index order — the native [[graft.functions.PolyHash]]
    * expression, the exact same fold DuckDB's `list_reduce` performs, so
    * the oracle is bit-identical (HOF equivalence pinned in
    * `StringExpressionsSpec`). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    (Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("md5_fp"),
        graft.functions.StringFunctions.poly_hash(col("text")).as("poly_fp")))

  val fingerprintOracle: String =
    """SELECT doc_id, md5(text) AS md5_fp,
      |       list_reduce(list_transform(string_split(text, ''),
      |                                  c -> CAST(ord(c) AS BIGINT)),
      |                   (a, b) -> (a * 31 + b) % 1000000007) AS poly_fp
      |FROM documents ORDER BY 1, 2, 3""".stripMargin

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * scheme) per document: word-3-gram shingle hashes windowed by 4, the
    * minimum of each window selected (rightmost tie), emitted as
    * (doc_id, pos, fp_hash) rows. The LOCAL fingerprinting complement to
    * [[fingerprint]]'s whole-document hashes and the duplicated-span
    * window hashes: winnowing guarantees any shared run of ≥ w+k-1 = 6
    * tokens shares a fingerprint while storing only ~2/(w+1) = 40% of
    * shingle hashes — the storage/recall dial for a corpus-scale
    * fingerprint index. One native expression pass per row
    * ([[graft.functions.WinnowFingerprints]]), scan-side, no shuffle;
    * the selection replays in DuckDB as list comprehensions over the
    * same Karp–Rabin hashes (pack/unpack via `(pos+1)·2³² + h`, exact in
    * both engines). */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    (Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(graft.functions.StringFunctions
          .winnow_fingerprints(col("ws"), 3, 4)).as("packed"))
      .select(col("doc_id"),
        shiftright(col("packed"), 32).as("pos"),
        col("packed").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_hash")))

  /** Shared CTE chain replaying the winnowing selection — `sel` is the
    * distinct packed (pos, hash) set per document; [[winnowOracle]]
    * unpacks it, [[winnowMatchesOracle]] self-joins it. */
  private val winnowSelCtes: String =
    """w0 AS (SELECT doc_id, string_split(text, ' ') AS ws
      |            FROM documents),
      |hh AS (SELECT doc_id,
      |              [list_reduce(list_transform(
      |                   string_split(array_to_string(ws[i:i+2], ' '), ''),
      |                   c -> CAST(ord(c) AS BIGINT)),
      |                 (a, b) -> (a * 31 + b) % 1000000007)
      |               for i in range(1, len(ws) - 1)] AS h
      |       FROM w0),
      |sel AS (SELECT DISTINCT doc_id,
      |               unnest([(least(i + 3, len(h)) + 1
      |                        - list_position(
      |                            list_reverse(h[i:least(i + 3, len(h))]),
      |                            list_min(h[i:least(i + 3, len(h))])))
      |                       * 4294967296
      |                       + list_min(h[i:least(i + 3, len(h))])
      |                       for i in range(1, greatest(len(h) - 3, 1) + 1)])
      |                 AS packed
      |        FROM hh WHERE len(h) > 0)""".stripMargin

  val winnowOracle: String =
    s"""WITH $winnowSelCtes
       |SELECT doc_id, packed // 4294967296 AS pos,
       |       packed % 4294967296 AS fp_hash
       |FROM sel ORDER BY 1, 2, 3""".stripMargin

  /** Cross-document match detection over the winnowing index: document
    * pairs sharing at least [[WinnowMinShared]] fingerprint HASHES, with
    * the shared count — the consumer that makes the 40%-sized index pay:
    * at corpus scale you join deltas against this index instead of
    * re-hashing every window ([[graft.operators.Dedup.dupSpans]] is the
    * exhaustive-window analogue; winnowing trades full positional
    * resolution for a 2/(w+1) index).
    *
    * Scale shape: the self-join keys on fp_hash — one shuffle of the
    * (doc, hash) index rows; per-hash group size is the hash's document
    * frequency, so ubiquitous-boilerplate fingerprints are the skew risk
    * and get the same df-cap mitigation as the inverted index (not
    * needed at fixture scale; named in SCALING.md). Distinct hashes per
    * pair (not occurrences) so repeated runs within a document don't
    * inflate the signal. */
  def winnowMatches(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnow(spark, dir)
      .select(col("doc_id"), col("fp_hash")).distinct()
    (fps.as("a").join(fps.as("b"),
        col("a.fp_hash") === col("b.fp_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared))
  }

  /** Pair-report floor: one shared fingerprint is a candidate; the
    * fixture's planted duplicates share many. (Declared before both
    * consumers — the Spark filter and the interpolated oracle — so the
    * two can never drift.) */
  private val WinnowMinShared = 2L

  val winnowMatchesOracle: String =
    s"""WITH $winnowSelCtes,
       |fp AS (SELECT DISTINCT doc_id, packed % 4294967296 AS fp_hash
       |       FROM sel)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       count(*) AS n_shared
       |FROM fp a JOIN fp b
       |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY 1, 2, 3""".stripMargin

  /** Boilerplate document-frequency cap for [[winnowMatchesCapped]]:
    * a fingerprint present in MORE than this many documents is
    * boilerplate (navigation chrome, license headers, templating) —
    * its pair contribution costs df² in the self-join while carrying
    * no pairing signal, the exact mitigation the inverted index's
    * postings cap applies. The round-10 Zipfian stress run measured
    * the uncapped blowup: 43.9 s at 100× rows (head-token
    * fingerprints' df grows ∝ n, pairs ∝ df²) — see SCALING.md.
    * The constant is sized to the FIXTURES (max fixture df is 7, so 5
    * provably exercises the cap in `ScaleSafetySpec` — same policy as
    * the inverted index's 100); production would tune it to the
    * corpus's boilerplate profile. Planted true duplicates share
    * low-df fingerprints (df ≈ 2) and always survive. */
  private val WinnowDfCap = 5L

  /** PRODUCTION winnowing match detection
    * ([[graft.SparkEntry.productionOverrides]]): [[winnowMatches]] with
    * fingerprints df-capped BEFORE the self-join. Per-hash group size
    * is bounded by the cap, so pair volume is ≤ df_cap × index rows —
    * linear in corpus size — regardless of how skewed the fingerprint
    * head is. Oracle-gated separately as `text_winnow_matches_capped`
    * (the uncapped exact form keeps its own oracle row). */
  def winnowMatchesCapped(spark: SparkSession, dir: String): DataFrame = {
    val fps = winnow(spark, dir)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val rare = fps.groupBy(col("fp_hash"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowDfCap)
      .select(col("fp_hash"))
    val kept = fps.join(rare, Seq("fp_hash"), "left_semi")
    (kept.as("a").join(kept.as("b"),
        col("a.fp_hash") === col("b.fp_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared))
  }

  val winnowMatchesCappedOracle: String =
    s"""WITH $winnowSelCtes,
       |fp AS (SELECT DISTINCT doc_id, packed % 4294967296 AS fp_hash
       |       FROM sel),
       |rare AS (SELECT fp_hash FROM fp
       |         GROUP BY 1 HAVING count(*) <= $WinnowDfCap),
       |k AS (SELECT f.doc_id, f.fp_hash FROM fp f JOIN rare USING (fp_hash))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       count(*) AS n_shared
       |FROM k a JOIN k b
       |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY 1, 2, 3""".stripMargin

  /** Deterministic content-keyed train/val/test split: bucket =
    * poly_hash(text) mod 100, then 90/5/5. Keying on CONTENT (not doc_id)
    * is the dedup-safe property a pretraining pipeline needs — byte-equal
    * duplicates land in the same split, so no text leaks from train into
    * eval. Embarrassingly parallel single-pass scan, no shuffle. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    (Tables.documents(spark, dir)
      .select(col("doc_id"), splitBucketExpr.as("bucket"),
        splitExpr.as("split")))

  /** Content-keyed split bucket / label as per-row Columns over `text` —
    * shared by [[trainSplit]] and the batch/streaming curation
    * compositions. */
  val splitBucketExpr: Column =
    graft.functions.StringFunctions.poly_hash(col("text")) % 100L
  val splitExpr: Column =
    when(splitBucketExpr < 90, "train")
      .when(splitBucketExpr < 95, "val").otherwise("test")

  /** The content-keyed split bucket as a SQL fragment over a `text`
    * column — shared by [[trainSplitOracle]] and the composed pipeline
    * oracle. */
  private[graft] val splitBucketSql: String =
    """list_reduce(list_transform(string_split(text, ''),
      |                                    c -> CAST(ord(c) AS BIGINT)),
      |                     (a, b) -> (a * 31 + b) % 1000000007) % 100""".stripMargin

  private[graft] val splitCaseSql: String =
    s"""CASE WHEN $splitBucketSql < 90 THEN 'train'
       |            WHEN $splitBucketSql < 95 THEN 'val'
       |            ELSE 'test' END""".stripMargin

  val trainSplitOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |         $splitBucketSql AS bucket
       |  FROM documents)
       |SELECT doc_id, bucket,
       |       CASE WHEN bucket < 90 THEN 'train'
       |            WHEN bucket < 95 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM b ORDER BY 1, 2, 3""".stripMargin

  /** Per-group top-k: the 3 highest-quality documents per labeled
    * language — the "keep the best N per stratum" curation step. One
    * shuffle on lang (the window partition key); ties break on doc_id so
    * both engines rank identically. At scale the partition count is the
    * language count — skewed toward en, which AQE absorbs; for a
    * heavy-hitter stratum the two-stage pattern of `q6_salted_skew`
    * (per-partition top-k, then merge) applies. */
  def topQualityByLang(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("double")
    val quality = lit(0.4) * (countIn(EnWords).cast("double") / nTok) +
      lit(0.3) * (size(array_distinct(toks)).cast("double") / nTok) +
      lit(0.3) * least(lit(1.0), nTok / lit(100.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
    (Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), quality.as("quality"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3))
  }

  val topQualityByLangOracle: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    s"""WITH q AS (
       |  SELECT doc_id, lang,
       |         0.4 * (CAST(${sqlCount(EnWords)} AS DOUBLE) / $nTok)
       |       + 0.3 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / $nTok)
       |       + 0.3 * least(1.0, $nTok / 100.0) AS quality
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, quality,
       |         row_number() OVER (PARTITION BY lang
       |                            ORDER BY quality DESC, doc_id) AS rnk
       |  FROM q)
       |SELECT doc_id, lang, quality, rnk FROM r WHERE rnk <= 3
       |ORDER BY 1, 2, 3, 4""".stripMargin
  }

  /** Inverted-index build: token → document frequency + sorted posting
    * list (comma-joined so the driver's row-hash compare stays scalar).
    * The canonical IR/index-build dataflow: per-doc distinct tokens
    * explode, one shuffle on token, postings assembled reduce-side.
    * At scale this is the classic skewed build (stopword tokens have huge
    * postings); the mitigation is the same salted two-stage pattern as
    * `q6_salted_skew`, or df-capped posting truncation — both preserve
    * this operator's shape. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = (
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks)).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings")))

  val invertedIndexOracle: String =
    """WITH e AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents)
      |SELECT token, count(*) AS df,
      |       array_to_string(list_sort(array_agg(doc_id)), ',') AS postings
      |FROM e GROUP BY token ORDER BY 1, 2, 3""".stripMargin

  /** Posting-list cap for [[invertedIndexCapped]] — bounds every per-token
    * aggregation buffer AND the output row width. */
  private val PostingsCap = 100

  /** Df-capped inverted index — the scale-safe PRODUCTION form of
    * [[invertedIndex]] (and an oracle-gated query of its own,
    * `text_inverted_index_capped`). The exact form's posting list is
    * O(corpus) for a stopword token — the round-5 verdict's scale killer.
    * Here the postings kept per token are the [[PostingsCap]] smallest
    * doc_ids, computed as a ranked window (`row_number` over token, order
    * by doc_id) — which `RewriteWindowTopK` runs on the bounded-heap
    * [[graft.plans.TopKPerKeyExec]]: O(cap) state per token, no per-group
    * sort — so the subsequent `collect_list` buffer is ≤ cap elements by
    * construction. `df` stays EXACT (a plain count aggregate — counters,
    * not lists), and `truncated` flags capped tokens. Two shuffles on
    * token, both with bounded state; the stopword-skew story reduces to
    * AQE splitting the count shuffle, which carries 8-byte counters. */
  def invertedIndexCapped(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks)).as("token"))
    val dfExact = e.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("doc_id"))
    val capped = e.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= PostingsCap)
      .groupBy(col("token"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
    (dfExact.join(capped, "token")
      .select(col("token"), col("df"), col("postings"),
        (col("df") > PostingsCap).as("truncated")))
  }

  val invertedIndexCappedOracle: String =
    s"""WITH e AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
       |  FROM documents),
       |c AS (SELECT token, count(*) AS df FROM e GROUP BY 1),
       |r AS (SELECT doc_id, token,
       |             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rnk
       |      FROM e),
       |p AS (SELECT token,
       |             array_to_string(list_sort(array_agg(doc_id)), ',') AS postings
       |      FROM r WHERE rnk <= $PostingsCap GROUP BY 1)
       |SELECT c.token, c.df, p.postings, c.df > $PostingsCap AS truncated
       |FROM c JOIN p USING (token) ORDER BY 1, 2, 3, 4""".stripMargin

  /** Corpus vocabulary statistics: per token, total occurrences (tf),
    * document frequency (df), and the count of documents where the token
    * is the doc's FIRST token (a cheap burstiness/position signal).
    * Integer-only aggregates so both engines agree exactly (idf-style
    * logs are left to callers — ln differs across libm implementations
    * in the last ulp). One explode + one shuffle on token with map-side
    * partial aggregation; the same salted/df-capped mitigations as the
    * inverted index apply to stopword skew at 100 TB. */
  def vocabStats(spark: SparkSession, dir: String): DataFrame = (
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "token")))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"),
        sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_first")))

  val vocabStatsOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id,
      |             [{'pos': i, 'token': ws[CAST(i AS INT)]}
      |              for i in range(1, len(ws) + 1)] AS ts
      |      FROM w),
      |e AS (SELECT doc_id, unnest(ts, recursive := true) FROM s)
      |SELECT token, count(*) AS tf,
      |       count(DISTINCT doc_id) AS df,
      |       CAST(sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first
      |FROM e GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin

  /** Benchmark decontamination — the pretraining hygiene step: flag every
    * TRAIN-split document sharing a word-3-gram shingle with the TEST
    * split (the content-keyed buckets of [[trainSplit]], so the check is
    * consistent with how the split itself is drawn). Output: contaminated
    * train doc → count of distinct shared shingles.
    *
    * Scale shape: the eval side of a real decontamination run is a
    * benchmark suite — megabytes against 100 TB — so its distinct shingle
    * set is collected and BROADCAST; the corpus side is a narrow scan +
    * explode probing the broadcast hash relation (no shuffle of corpus
    * shingles), then one groupBy on doc_id over only the matching rows
    * (∝ contamination, not corpus size). `word_shingles` emits per-doc
    * DISTINCT shingles and the broadcast side is distinct, so the join
    * output is already unique per (doc, shingle) — a plain count, no
    * distinct aggregate. */
  /** The decontamination content split + shingle prep over any
    * (doc_id, text) frame — ONE definition of the bucket hash, shingle
    * width and 95/90 split boundaries, shared by the exact form, the
    * bloom form, and the streaming twin (which could otherwise drift
    * from the pinned batch≡stream equality). */
  private[graft] def contaminationShingled(docs: DataFrame): DataFrame = {
    val bucket = graft.functions.StringFunctions.poly_hash(col("text")) % 100L
    docs.select(col("doc_id"), bucket.as("bucket"),
      graft.functions.StringFunctions
        .word_shingles(split(col("text"), " "), 3).as("sh"))
  }

  /** The eval suite's distinct shingle set (bucket ≥ 95). */
  private[graft] def testShinglesOf(shingled: DataFrame): DataFrame =
    shingled.filter(col("bucket") >= 95)
      .select(explode(col("sh")).as("sh")).distinct()

  /** The training corpus's per-document shingles (bucket < 90). */
  private[graft] def trainShinglesOf(shingled: DataFrame): DataFrame =
    shingled.filter(col("bucket") < 90)
      .select(col("doc_id"), explode(col("sh")).as("sh"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = contaminationShingled(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    (trainShinglesOf(sh).join(broadcast(testShinglesOf(sh)), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")))
  }

  val decontaminateOracle: String =
    """WITH b AS (
      |  SELECT doc_id, text,
      |         list_reduce(list_transform(string_split(text, ''),
      |                                    c -> CAST(ord(c) AS BIGINT)),
      |                     (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket
      |  FROM documents),
      |w AS (SELECT doc_id, bucket, string_split(text, ' ') AS ws FROM b),
      |s AS (SELECT doc_id, bucket,
      |             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                            for i in range(1, len(ws) - 1)]) AS sh
      |      FROM w),
      |t AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE bucket >= 95),
      |tr AS (SELECT doc_id, unnest(sh) AS sh FROM s WHERE bucket < 90)
      |SELECT tr.doc_id, count(*) AS n_shared
      |FROM tr JOIN t USING (sh)
      |GROUP BY 1 ORDER BY 1, 2""".stripMargin

  // --- bloom-prefiltered decontamination -----------------------------------

  /** Bloom-prefiltered decontamination — IDENTICAL answer to
    * [[decontaminate]] (the oracle runs the same SQL), different scale
    * shape. [[decontaminate]] broadcasts the distinct test-shingle SET to
    * every executor; at a real benchmark-suite scale that set is
    * gigabytes. Here it is a fixed-size Bloom bitmask
    * ([[graft.functions.BloomHashing]]: 2²⁰ bits = 128 KiB regardless of
    * data, k = 5 probes → ≈5·10⁻⁴ false positives at ~50 k shingles):
    * the corpus scan drops every shingle the filter rejects, and only
    * the survivors — ∝ true contamination — reach the exact-confirm
    * join that removes bloom false positives. Counts are therefore
    * exact: the bloom only prunes, membership truth comes from the real
    * shingle set.
    *
    * The probe is the native [[graft.functions.BloomShingleFilter]]
    * expression applied to each document's shingle ARRAY on the scan —
    * one JVM loop per row, one xxhash64 draw per shingle (split into
    * the two double-hashing bases), bitmask attached as one codegen
    * reference object — so the explode that follows emits ONLY
    * survivors. The previous all-builtins form (explode everything →
    * two xxhash64 per row → five literal `element_at` probes) paid the
    * Generate and double-hash on every corpus shingle; at sf0.1 that
    * was 4× the exact form's wall-clock on a constant that bought
    * nothing. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val sh = contaminationShingled(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    // persisted: the bloom-build ACTION below and the exact-confirm join
    // both consume this frame — without the persist the test corpus is
    // scanned and re-shingled twice (same discipline as the LSH band
    // frames; Bench/Verify clear the cache between queries)
    val testShingles = testShinglesOf(sh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val words = bloomWordsOf(testShingles)
    val candidates = sh.filter(col("bucket") < 90)
      .select(col("doc_id"),
        graft.functions.SketchScalarFunctions
          .bloom_shingle_filter(col("sh"), words).as("sh_pass"))
      .select(col("doc_id"), explode(col("sh_pass")).as("sh"))
    (candidates.join(testShingles, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")))
  }

  /** Build the bloom bitmask from a `(sh)` shingle frame: k positions per
    * shingle (the same [[graft.functions.BloomHashing]] the probe uses —
    * shared definition, no drift), per-word `bit_or` of the masks
    * (≤ 16 384 groups — bounded by the PARAMETER, never the data),
    * sparse words collected and densified driver-side (a
    * parameter-bounded 128 KiB, the bloom-build step every engine ends
    * with). (`private[graft]` so the streaming twin builds the identical
    * filter.) */
  private[graft] def bloomWordsOf(testShingles: DataFrame): Array[Long] = {
    val sparse = testShingles
      .select(explode(graft.functions.SketchScalarFunctions
        .bloom_positions(col("sh"))).as("pos"))
      .select(expr("shiftright(pos, 6)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
      .collect()
    val words = new Array[Long](graft.functions.BloomHashing.Words)
    sparse.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  /** Tokens per packed sequence for [[seqPack]] — the model context
    * length. Power of two, so the pack-id division is exact in double. */
  private val PackLen = 512L

  /** Shard count for [[seqPack]]. At 100 TB this is a parameter sized to
    * the cluster (shards ≈ executors × a small factor); 8 keeps the
    * fixture readable. */
  private val PackShards = 8L

  /** Greedy sequence packing — concatenate-and-chunk, the standard
    * pretraining batching step: documents are dealt to [[PackShards]]
    * content-hash shards, laid end-to-end within their shard in
    * deterministic (hash, doc_id) order, and cut into [[PackLen]]-token
    * windows. Output: which pack each document STARTS in and at what
    * token offset.
    *
    * Scale shape: one shuffle on shard, then a running window sum per
    * shard — O(1) state per row (sum over ROWS UNBOUNDED PRECEDING is
    * streamed, never buffered). The sequential-per-shard tail is bounded
    * by corpus/shards: shard count is the scale knob, and packs never
    * span shards so shards are embarrassingly parallel downstream.
    * Integer-only arithmetic; the `/ PackLen` is a power-of-two double
    * division (exact) truncated on nonnegative values, identical to the
    * oracle's `//`. */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.StringFunctions.poly_hash(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val start = sum(col("n_tokens")).over(w) - col("n_tokens")
    (Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"), (h % PackShards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (start / lit(PackLen.toDouble)).cast("long").as("pack_id"),
        (start % PackLen).as("tok_offset")))
  }

  val seqPackOracle: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         len(string_split(text, ' ')) AS n_tokens,
      |         list_reduce(list_transform(string_split(text, ''),
      |                                    c -> CAST(ord(c) AS BIGINT)),
      |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, h % 8 AS shard, n_tokens,
      |         CAST(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
      |                                  ROWS UNBOUNDED PRECEDING) - n_tokens
      |              AS BIGINT) AS tok_start
      |  FROM h)
      |SELECT doc_id, shard, n_tokens,
      |       tok_start // 512 AS pack_id,
      |       tok_start % 512 AS tok_offset
      |FROM c ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** Bigram familiarity — an n-gram-LM-style quality signal kept
    * INTEGER-ONLY so the oracle replays bit-exactly (no logs, no
    * smoothing constants: libm `ln` differs across engines in the last
    * ulp). Per document: its distinct word bigrams, the sum of their
    * corpus document frequencies ("familiarity" — low means the doc is
    * built from bigrams nothing else uses), and how many of its bigrams
    * appear in NO other document. The classic cheap proxy for
    * perplexity-based filtering.
    *
    * Scale shape: one shuffle to count bigram df (map-side partial —
    * counters, not lists), one broadcast-unfriendly join on the bigram
    * string (at 100 TB: hash the bigram to 8 bytes first and salt the
    * stopword-pair heavy hitters, the same `q6_salted_skew` pattern),
    * one final groupBy on doc_id carrying three counters per row. */
  def bigramFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.StringFunctions
          .word_shingles(split(col("text"), " "), 2)).as("bg"))
    val counts = b.groupBy(col("bg")).agg(count(lit(1)).as("bdf"))
    (b.join(counts, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bdf")).as("familiarity"),
        sum(when(col("bdf") === 1L, 1L).otherwise(0L)).as("n_unique")))
  }

  val bigramFamiliarityOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id,
      |             list_distinct([ws[i] || ' ' || ws[i+1]
      |                            for i in range(1, len(ws))]) AS bgs
      |      FROM w),
      |b AS (SELECT doc_id, unnest(bgs) AS bg FROM s),
      |c AS (SELECT bg, count(*) AS bdf FROM b GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       CAST(sum(bdf) AS BIGINT) AS familiarity,
      |       CAST(sum(CASE WHEN bdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_unique
      |FROM b JOIN c USING (bg)
      |GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin

  /** K for [[distinctKmv]] — the sketch size. */
  private val KmvK = 64

  /** K-minimum-values distinct-count sketch over per-language word-3-gram
    * shingles — a DETERMINISTIC cardinality sketch (Spark's built-in
    * `approx_count_distinct` is not oracle-replayable; KMV with a pinned
    * hash is, bit-for-bit — as is the replayable [[distinctHllProd]], which
    * trades KMV's exact-below-k fallback for a fixed 64-byte mergeable
    * buffer): keep the [[KmvK]] smallest distinct
    * `poly_hash(shingle)` values per language, estimate distinct count as
    * `(k-1) · M / h_k` (hashes uniform on [0, M)), falling back to the
    * exact kept count when a group has fewer than k values.
    *
    * Scale shape: distinct on (lang, 8-byte hash) with map-side partial,
    * then the ranked-window top-k — which `RewriteWindowTopK` runs on the
    * bounded-heap [[graft.plans.TopKPerKeyExec]]: O(k) state per
    * language, no per-group sort, final state k longs per group no matter
    * the corpus size. The estimate arithmetic is two IEEE double ops in
    * fixed order (exact product, one divide) — both engines agree to the
    * last bit. */
  def distinctKmv(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h"))
    val hashes = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(graft.functions.StringFunctions
          .word_shingles(split(col("text"), " "), 3)).as("sh"))
      .select(col("lang"),
        graft.functions.StringFunctions.poly_hash(col("sh")).as("h"))
      .distinct()
    (hashes
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KmvK)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth_min"))
      .select(col("lang"), col("n_kept"), col("kth_min"),
        when(col("n_kept") < KmvK, col("n_kept").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(1000000007.0) /
            col("kth_min").cast("double")).as("est_distinct")))
  }

  val distinctKmvOracle: String =
    """WITH w AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT lang,
      |             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                                   for i in range(1, len(ws) - 1)])) AS sh
      |      FROM w),
      |h AS (SELECT DISTINCT lang,
      |             list_reduce(list_transform(string_split(sh, ''),
      |                                        c -> CAST(ord(c) AS BIGINT)),
      |                         (a, b) -> (a * 31 + b) % 1000000007) AS h
      |      FROM s),
      |r AS (SELECT lang, h,
      |             row_number() OVER (PARTITION BY lang ORDER BY h) AS rnk
      |      FROM h)
      |SELECT lang, count(*) AS n_kept, max(h) AS kth_min,
      |       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
      |            ELSE 63.0 * 1000000007.0 / CAST(max(h) AS DOUBLE)
      |       END AS est_distinct
      |FROM r WHERE rnk <= 64
      |GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin

  // --- HyperLogLog distinct sketch -----------------------------------------

  /** HLL geometry: m = 64 registers (p = 6). The combined hash
    * `poly31·(1e9+7) + poly131` is < (1e9+7)² < 2^60; after the 6 bucket
    * bits the remaining word has ≤ 54 bits, so rho ∈ [1, 55]. */
  private val HllM = 64
  private val HllWBits = 54
  /** The standard HLL bias constant α_m = 0.7213/(1 + 1.079/m). */
  private val HllAlpha = 0.7213 / (1.0 + 1.079 / HllM)

  /** (lang, h): per-language distinct-per-doc word-3-gram shingles under
    * the combined two-base replayable hash — shared by the batch forms
    * and the streaming twin. */
  private[graft] def hllHashedOf(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        explode(graft.functions.StringFunctions
          .word_shingles(split(col("text"), " "), 3)).as("sh"))
      .select(col("lang"),
        (graft.functions.StringFunctions.poly_hash(col("sh")) *
          lit(1000000007L) +
          graft.functions.StringFunctions.poly_hash_base(col("sh"), 131))
          .as("h"))

  /** The estimate tail over a `regs` array<long> column (64 registers in
    * bucket order): register checksum (order-fixed integer fold), set
    * count, and the raw HLL estimate αm²/Σ2^(−M_j) — with the harmonic
    * sum accumulated as an EXACT integer (Σ 2^(55−M_j), each term a
    * power of two ≤ 2^55, 64 terms < 2^62) so no floating-point
    * ordering can perturb it; the only fp ops are one long→double
    * conversion and two IEEE divisions/multiplications in fixed order,
    * identical in DuckDB. (No small-range `ln` correction: a
    * transcendental is not bit-portable across engines; `v_zero` is
    * emitted so a caller can apply linear counting client-side.) */
  private[graft] def hllEstimated(regs: DataFrame): DataFrame =
    regs.select(
      col("lang"),
      size(filter(col("regs"), r => r > 0)).cast("long").as("n_set"),
      (lit(HllM.toLong) -
        size(filter(col("regs"), r => r > 0)).cast("long")).as("v_zero"),
      expr("aggregate(regs, 0L, (a, r) -> (a * 31 + r) % 1000000007)")
        .as("reg_checksum"),
      (lit(HllAlpha) * lit((HllM * HllM).toDouble) /
        (expr("aggregate(regs, 0L, (a, r) -> a + shiftleft(1L, cast(55 - r as int)))")
          .cast("double") / lit(math.pow(2.0, 55))))
        .as("est_distinct"))

  /** HyperLogLog distinct-count sketch per language — the canonical
    * cardinality estimator alongside [[distinctKmv]] (KMV trades a
    * slightly larger summary for an exact-below-k fallback; HLL is the
    * fixed-64-byte mergeable form every streaming/OLAP engine ships).
    * Registers build on the native fixed-buffer
    * [[graft.functions.HllRegisters]] aggregate — one shuffle carrying
    * 64 bytes per language, the mergeable shape the streaming twin
    * ([[graft.streaming.StreamingSketch]]) runs verbatim. The DuckDB
    * oracle computes the registers relationally — (lang, bucket)
    * max-aggregate, then the 64-slot vector assembled per language — and
    * replays every step bit-for-bit, including the estimate (see
    * [[hllEstimated]] for why no step depends on fp ordering or
    * transcendentals); registers are a deterministic max, so the two
    * are value-IDENTICAL, not merely close. `CurationOpsSpec` pins the
    * estimate within the theoretical error of the true count. */
  def distinctHllProd(spark: SparkSession, dir: String): DataFrame =
    hllEstimated(hllRegistersOf(hllHashedOf(Tables.documents(spark, dir))))

  /** The native register build — shared with the streaming twin. */
  private[graft] def hllRegistersOf(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("lang"))
      .agg(graft.functions.SketchFunctions
        .hll_registers(col("h"), HllM, HllWBits).as("regs"))

  private val hllShingleCtes: String =
    """w AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT lang,
      |             unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |                                   for i in range(1, len(ws) - 1)])) AS sh
      |      FROM w)""".stripMargin

  val distinctHllOracle: String =
    s"""WITH $hllShingleCtes,
       |hh AS (SELECT lang,
       |              list_reduce(list_transform(string_split(sh, ''),
       |                                         c -> CAST(ord(c) AS BIGINT)),
       |                          (a, b) -> (a * 31 + b) % 1000000007)
       |                * 1000000007
       |              + list_reduce(list_transform(string_split(sh, ''),
       |                                           c -> CAST(ord(c) AS BIGINT)),
       |                            (a, b) -> (a * 131 + b) % 1000000007) AS h
       |       FROM s),
       |rr AS (SELECT lang, h % 64 AS bucket, h // 64 AS wv FROM hh),
       |rho AS (SELECT lang, bucket,
       |               CASE WHEN wv = 0 THEN 55
       |                    ELSE 55 - length(bin(wv)) END AS rho
       |        FROM rr),
       |reg AS (SELECT lang, bucket, max(rho) AS reg FROM rho GROUP BY 1, 2),
       |langs AS (SELECT DISTINCT lang FROM reg),
       |grid AS (SELECT l.lang, t.b AS bucket FROM langs l, range(0, 64) t(b)),
       |filled AS (SELECT g.lang, g.bucket,
       |                  coalesce(r.reg, CAST(0 AS BIGINT)) AS reg
       |           FROM grid g LEFT JOIN reg r
       |             ON g.lang = r.lang AND g.bucket = r.bucket),
       |vec AS (SELECT lang, list(reg ORDER BY bucket) AS regs
       |        FROM filled GROUP BY 1)
       |SELECT lang,
       |       CAST(len(list_filter(regs, r -> r > 0)) AS BIGINT) AS n_set,
       |       64 - CAST(len(list_filter(regs, r -> r > 0)) AS BIGINT) AS v_zero,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), regs),
       |                   (a, r) -> (a * 31 + r) % 1000000007) AS reg_checksum,
       |       CAST($HllAlpha AS DOUBLE) * 4096.0 /
       |         (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), regs),
       |                 (a, r) -> a + (CAST(1 AS BIGINT) << CAST(55 - r AS INT)))
       |               AS DOUBLE) / 36028797018963968.0) AS est_distinct
       |FROM vec ORDER BY 1, 2, 3, 4, 5""".stripMargin

  /** Deterministic stratified sample: 20 documents per language, chosen
    * by content-hash order (poly_hash is uniform, so this is a
    * pseudorandom-but-reproducible draw; ties cannot occur twice because
    * doc_id breaks them). The per-stratum quota is the standard way to
    * balance a skewed corpus (en ≫ others) into an eval set. Same ranked
    * shape as [[topQualityByLang]] — one shuffle on lang, and under
    * `TopKPlanning` it runs on the bounded-heap operator, no per-group
    * sort. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    (Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.StringFunctions.poly_hash(col("text")).as("h"))
      .withColumn("draw", row_number().over(w).cast("long"))
      .filter(col("draw") <= 20)
      .select(col("doc_id"), col("lang"), col("draw")))
  }

  val stratifiedSampleOracle: String =
    """WITH h AS (
      |  SELECT doc_id, lang,
      |         list_reduce(list_transform(string_split(text, ''),
      |                                    c -> CAST(ord(c) AS BIGINT)),
      |                     (a, b) -> (a * 31 + b) % 1000000007) AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS draw
      |  FROM h)
      |SELECT doc_id, lang, draw FROM r WHERE draw <= 20
      |ORDER BY 1, 2, 3""".stripMargin

  /** Text normalization — the canonical cleaning step before hashing or
    * tokenization: lowercase, strip non-alphanumerics (keeping spaces),
    * collapse whitespace runs, trim. Pure regexp_replace chains with
    * literal character classes, so Java and RE2 agree; single-pass,
    * scan-only. */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    (Tables.documents(spark, dir)
      .select(col("doc_id"), normalizedExpr.as("norm_text"),
        length(normalizedExpr).cast("long").as("n_norm_chars")))

  /** The normalization chain as a per-row Column over `text` — shared by
    * [[normalize]] and the batch/streaming curation compositions so the
    * twins agree by construction. */
  val normalizedExpr: Column =
    trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "  +", " "))

  /** The normalization chain as a SQL fragment over a `text` column —
    * shared by [[normalizeOracle]] and the composed pipeline oracle. */
  private[graft] val normTextSql: String =
    """trim(regexp_replace(
      |              regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |              '  +', ' ', 'g'))""".stripMargin

  val normalizeOracle: String =
    s"""SELECT doc_id,
       |       $normTextSql AS norm_text,
       |       length($normTextSql) AS n_norm_chars
       |FROM documents ORDER BY 1, 2, 3""".stripMargin

  /** Repetition detection (the Gopher-style boilerplate signal): the
    * fraction of a document's word-3-grams occupied by its single most
    * frequent 3-gram. Machine-generated/boilerplate text repeats; prose
    * doesn't. One explode + two-level aggregation — the per-(doc, shingle)
    * counts partial-aggregate map-side, then one shuffle on doc_id. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val perShingle = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(
        graft.functions.StringFunctions.word_shingles_all(col("ws"), 3))
        .as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
    (perShingle.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_shingles"), max(col("c")).as("max_freq"))
      .select(col("doc_id"), col("n_shingles"), col("max_freq"),
        (col("max_freq").cast("double") / col("n_shingles").cast("double"))
          .as("repetition_ratio")))
  }

  val repetitionOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id,
      |             [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
      |              for i in range(1, len(ws) - 1)] AS sh
      |      FROM w WHERE len(ws) >= 3),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |c AS (SELECT doc_id, g, count(*) AS c FROM e GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
      |       max(c) AS max_freq,
      |       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
      |         AS repetition_ratio
      |FROM c GROUP BY 1 ORDER BY 1, 2, 3, 4""".stripMargin

  /** Rule-bundle quality filter (C4/Gopher-style): hard boolean gates a
    * pretraining pipeline applies before any model-based scoring —
    * length bounds, mean word length bounds, symbol ratio, stopword
    * presence — plus the resulting keep verdict. All integer/double
    * arithmetic in a fixed order, so both engines agree exactly. */
  def qualityRules(spark: SparkSession, dir: String): DataFrame =
    (Tables.documents(spark, dir)
      .select(col("doc_id"),
        qualityOkLen.as("ok_len"), qualityOkWordLen.as("ok_word_len"),
        qualityOkSymbols.as("ok_symbols"), qualityHasStopword.as("has_stopword"),
        qualityKeepExpr.as("keep")))

  private def qualityMeanWordLen: Column =
    length(regexp_replace(col("text"), " ", "")).cast("double") /
      size(toks).cast("double")
  private def qualityOkLen: Column = size(toks).between(5, 10000)
  private def qualityOkWordLen: Column =
    qualityMeanWordLen >= 2.0 && qualityMeanWordLen <= 12.0
  private def qualityOkSymbols: Column =
    ((length(col("text")) -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
      .cast("double") / length(col("text")).cast("double")) <= 0.2
  private def qualityHasStopword: Column = countIn(EnWords) >= 1

  /** The full keep verdict as a per-row Column over `text` — shared by
    * [[qualityRules]] and the batch/streaming curation compositions. */
  val qualityKeepExpr: Column =
    qualityOkLen && qualityOkWordLen && qualityOkSymbols && qualityHasStopword

  /** The keep verdict as a SQL fragment over a `text` column — shared by
    * [[qualityRulesOracle]] and the composed pipeline oracle
    * ([[graft.PipelineRun.curatedOracle]]) so the two can never drift. */
  private[graft] val qualityKeepSql: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val meanWordLen = s"CAST(length(replace(text, ' ', '')) AS DOUBLE) / $nTok"
    val symbolRatio =
      """CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
        | AS DOUBLE) / CAST(length(text) AS DOUBLE)""".stripMargin
    s"""(len(string_split(text, ' ')) BETWEEN 5 AND 10000)
       |         AND ($meanWordLen >= 2.0 AND $meanWordLen <= 12.0)
       |         AND ($symbolRatio <= 0.2)
       |         AND (${sqlCount(EnWords)} >= 1)""".stripMargin
  }

  val qualityRulesOracle: String = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val meanWordLen = s"CAST(length(replace(text, ' ', '')) AS DOUBLE) / $nTok"
    val symbolRatio =
      """CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
        | AS DOUBLE) / CAST(length(text) AS DOUBLE)""".stripMargin
    s"""SELECT doc_id,
       |       len(string_split(text, ' ')) BETWEEN 5 AND 10000 AS ok_len,
       |       $meanWordLen >= 2.0 AND $meanWordLen <= 12.0 AS ok_word_len,
       |       $symbolRatio <= 0.2 AS ok_symbols,
       |       ${sqlCount(EnWords)} >= 1 AS has_stopword,
       |       $qualityKeepSql AS keep
       |FROM documents ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** The PII pattern bundle — ordered (regex, replacement) pairs applied
    * as a regexp_replace chain. Literal character classes and bounded
    * quantifiers only, so Java regex and DuckDB's RE2 rewrite
    * identically. Order matters: emails go first (their local parts can
    * contain digits), structured digit shapes (SSN, separator-tolerant
    * phone) before the bare 8+-digit-run catch-all would swallow their
    * digit groups. Callers can pass their own bundle to [[piiMaskOn]] —
    * the chain shape (and the oracle replay guarantee, for literal-class
    * patterns) is independent of the bundle. */
  val DefaultPiiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+" -> "<EMAIL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{8,}" -> "<NUM>")

  /** The default mask chain as a per-row Column over `text` — shared by
    * [[piiMaskOn]] and the composed curation pipeline's single-scan
    * projection. */
  private[graft] val piiMaskedExpr: Column =
    DefaultPiiPatterns.foldLeft(col("text")) {
      case (c, (re, rep)) => regexp_replace(c, re, rep)
    }

  /** Its DuckDB replay, as a fragment over a `text` column. */
  private[graft] val piiMaskedSql: String =
    DefaultPiiPatterns.foldLeft("text") {
      case (c, (re, rep)) => s"regexp_replace($c, '$re', '$rep', 'g')"
    }

  /** PII masking over any (doc_id, text) frame — the sanitization pass
    * before a corpus leaves the pipeline. Single-pass scan, no shuffle;
    * the whole chain stays one codegen'd projection. */
  def piiMaskOn(df: DataFrame,
      patterns: Seq[(String, String)] = DefaultPiiPatterns): DataFrame = {
    val masked =
      if (patterns == DefaultPiiPatterns) piiMaskedExpr
      else patterns.foldLeft(col("text")) {
        case (c, (re, rep)) => regexp_replace(c, re, rep)
      }
    df.select(col("doc_id"), masked.as("masked_text"),
      (length(col("text")) - length(masked)).cast("long").as("chars_masked"))
  }

  /** The fixture corpus carries no PII at all, so the registry query
    * PLANTS it deterministically in-query — arithmetic both engines
    * express identically (the same discipline as the dedup queries'
    * planted duplicates): every 7th doc gains an email, every 11th an
    * SSN, every 13th a parenthesized phone, every 17th an 11-digit
    * account number. The oracle replays the planting and the mask chain,
    * so every pattern in [[DefaultPiiPatterns]] is exercised and
    * hash-checked; [[piiMaskOn]] itself stays plant-free for real use
    * (PipelineRun masks the raw corpus). */
  private def withPlantedPii(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = concat(
      col("text"),
      when(id % 7 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 11 === 0, lit(" ssn 123-45-6789 on file")).otherwise(lit("")),
      when(id % 13 === 0,
        concat(lit(" call (415) 555-"), lpad((id % 10000L).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 17 === 0, lit(" account 12345678901")).otherwise(lit("")))
    Tables.documents(spark, dir).select(col("doc_id"), planted.as("text"))
  }

  def piiMask(spark: SparkSession, dir: String): DataFrame =
    piiMaskOn(withPlantedPii(spark, dir))

  val piiMaskOracle: String = {
    val maskedSql = piiMaskedSql
    s"""WITH d AS (
       |  SELECT doc_id,
       |         text
       |         || CASE WHEN doc_id % 7 = 0
       |                 THEN ' contact user' || doc_id::VARCHAR || '@example.com'
       |                 ELSE '' END
       |         || CASE WHEN doc_id % 11 = 0
       |                 THEN ' ssn 123-45-6789 on file' ELSE '' END
       |         || CASE WHEN doc_id % 13 = 0
       |                 THEN ' call (415) 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
       |                 ELSE '' END
       |         || CASE WHEN doc_id % 17 = 0
       |                 THEN ' account 12345678901' ELSE '' END AS text
       |  FROM documents)
       |SELECT doc_id, $maskedSql AS masked_text,
       |       length(text) - length($maskedSql) AS chars_masked
       |FROM d ORDER BY 1, 2, 3""".stripMargin
  }

  /** Per-source corpus profile (the `source` dimension): document count,
    * exact char-count stats, language spread. The first look a pipeline
    * owner takes at a new crawl dump. */
  def statsBySource(spark: SparkSession, dir: String): DataFrame = (
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("total_chars")))

  val statsBySourceOracle: String =
    """SELECT source, count(*) AS n_docs,
      |       count(DISTINCT lang) AS n_langs,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1 ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin

  // --- tf-idf characteristic terms -----------------------------------------

  /** Top-3 characteristic terms per document by tf·idf, with the LOG-FREE
    * idf variant `score = tf · N / df` (same ranking as tf·(N/df) under
    * any monotone transform, and — unlike `log` — three IEEE ops in fixed
    * order that DuckDB reproduces to the last bit; the library avoids
    * libm in every oracle-gated expression).
    *
    * Scale shape: term frequencies are a (doc, token)-keyed groupBy
    * (map-side combine collapses repeats), document frequencies a
    * vocabulary-keyed count over the distinct pairs; the tf⋈df join
    * shuffles on token (vocabulary-sized build side, equi-shuffle — no
    * broadcast assumption), N is a 1-row broadcast, and the per-document
    * top-3 is a ranked window that `RewriteWindowTopK` runs on the
    * bounded-heap [[graft.plans.TopKPerKey]] operator — O(3) state per
    * document, no per-group sort, spill-guarded for the doc-cardinality
    * key space. */
  def tfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("token"))
    val tf = t.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = t.distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    (tf.join(docFreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n").cast("double") /
          col("df").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("score"),
        col("rnk")))
  }

  val tfidfTopkOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
      |             CAST(tf AS DOUBLE) * CAST(n AS DOUBLE)
      |               / CAST(df AS DOUBLE) AS score
      |      FROM tf JOIN df USING (token) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER
      |              (PARTITION BY doc_id
      |               ORDER BY score DESC, token) AS rnk
      |      FROM s)
      |SELECT doc_id, token, tf, score, rnk
      |FROM r WHERE rnk <= 3 ORDER BY 1, 2, 3, 4, 5""".stripMargin

  // --- target-mix resampler ------------------------------------------------

  /** Target-distribution resampler — the domain-mixing step of a training
    * run (the fixed-weights skeleton of DoReMi-style mixture tuning):
    * rebalance a skewed corpus to an equal share per language within a
    * half-corpus budget. Per language: `desired = (N div 2) div 5`
    * documents, acceptance threshold `thr_ppm = min(10⁶, desired·10⁶ div
    * n_lang)`, and a document is kept iff `poly_hash(text) mod 10⁶ <
    * thr_ppm` — content-keyed (dedup-safe: both copies of a duplicate get
    * the same verdict), reproducible, no RNG. All arithmetic is integer
    * division (`div` here, `//` in DuckDB), so the oracle replays
    * bit-for-bit; `desired·10⁶` stays inside 64 bits up to ~9·10¹² docs.
    *
    * Scale shape: the counts pass reads ONLY the lang column (pruned
    * scan, map-side combine into ≤#langs groups); thresholds are a
    * #langs-row frame broadcast to the sampling pass, which is one
    * narrow scan with a conditional sum — no shuffle touches document
    * text, and the output is one row per language whatever the corpus
    * size. */
  def mixResample(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val thr = counts
      .crossJoin(counts.agg(sum(col("n_docs")).as("n_total")))
      .withColumn("thr_ppm",
        least(lit(1000000L),
          expr("((n_total div 2) div 5) * 1000000 div n_docs")))
      .select(col("lang"), col("n_docs"), col("thr_ppm"))
    (Tables.documents(spark, dir)
      .select(col("lang"),
        graft.functions.StringFunctions.poly_hash(col("text")).as("ph"))
      .join(broadcast(thr), Seq("lang"))
      .groupBy(col("lang"), col("n_docs"), col("thr_ppm"))
      .agg(sum(when(col("ph") % 1000000L < col("thr_ppm"), 1L)
        .otherwise(0L)).as("n_sampled")))
  }

  val mixResampleOracle: String =
    """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
      |thr AS (SELECT lang, n_docs,
      |               CAST(least(1000000,
      |                          ((n_total // 2) // 5) * 1000000 // n_docs)
      |                    AS BIGINT) AS thr_ppm
      |        FROM c CROSS JOIN t),
      |h AS (SELECT lang,
      |             list_reduce(list_transform(string_split(text, ''),
      |                                        c -> CAST(ord(c) AS BIGINT)),
      |                         (a, b) -> (a * 31 + b) % 1000000007) AS ph
      |      FROM documents)
      |SELECT thr.lang, thr.n_docs, thr.thr_ppm,
      |       CAST(sum(CASE WHEN h.ph % 1000000 < thr.thr_ppm
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM h JOIN thr USING (lang)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3, 4""".stripMargin

  // --- Count-Min heavy hitters ---------------------------------------------

  /** Count-Min sketch geometry: [[CmsRows]] independent Carter–Wegman rows
    * (`((a·poly_hash + b) mod P) mod W` — `a·h < 13·10⁹`, no 64-bit
    * overflow in either engine), W buckets each. Declared ABOVE the oracle
    * string that interpolates them (Scala object init order). */
  private val CmsRows = Seq((0, 3L, 7L), (1, 5L, 11L), (2, 11L, 13L), (3, 13L, 17L))
  private val CmsP = 1000000007L
  private val CmsW = 256
  private val CmsTopK = 20

  private[graft] def cmsBuckets(ph: Column): Column = array(CmsRows.map {
    case (i, a, b) =>
      struct(lit(i).as("r"), (((lit(a) * ph + lit(b)) % CmsP) % CmsW).as("bkt"))
  }: _*)

  /** (token, ph) for every token occurrence of a (…, text) frame — shared
    * by the batch query and its streaming twin so both hash identically. */
  private[graft] def cmsTokensOf(docs: DataFrame): DataFrame = docs
    .select(explode(toks).as("token"))
    .select(col("token"),
      graft.functions.StringFunctions.poly_hash(col("token")).as("ph"))

  /** The (r, bkt) → count sketch build. On a stream this is a standard
    * streaming aggregation whose state is AT MOST d·W = 1024 rows. */
  private[graft] def cmsSketchOf(tokens: DataFrame): DataFrame = tokens
    .select(explode(cmsBuckets(col("ph"))).as("rb"))
    .select(col("rb.r").as("r"), col("rb.bkt").as("bkt"))
    .groupBy(col("r"), col("bkt"))
    .agg(count(lit(1)).as("c"))

  /** Heavy hitters via a Count-Min sketch — the DETERMINISTIC, mergeable
    * frequency sketch (Cormode & Muthukrishnan 2005): d=4 Carter–Wegman
    * rows × W=256 counters. The sketch build is one token scan + a
    * groupBy on (row, bucket) — the aggregation state is AT MOST d·W =
    * 1024 long counters no matter the corpus size, counters merge by
    * addition (map-side partial agg does exactly that), and at 100 TB
    * per-executor partial sketches combine into the same 8 KiB. The
    * top-[[CmsTopK]] candidate set is computed exactly (vocabulary-keyed
    * groupBy with map-side combine, then an O(k) TakeOrdered — itself
    * scale-safe); each candidate's CMS estimate is the min over its d
    * counters, read via a broadcast-sized join (k·d = 80 lookup rows ⋈
    * ≤1024 sketch rows). CMS guarantees estimate ≥ exact count
    * ([[graft.operators]] spec pins the property); the whole query is
    * oracle-replayed because every hash is the integer `poly_hash` fold
    * and the row hashes are integer mod arithmetic. */
  def heavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    val tokens = cmsTokensOf(Tables.documents(spark, dir))
    val sketch = cmsSketchOf(tokens)
    val candidates = tokens
      .groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"), min(col("ph")).as("ph"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
      .limit(CmsTopK)
    (candidates
      .select(col("token"), col("exact_cnt"),
        explode(cmsBuckets(col("ph"))).as("rb"))
      .select(col("token"), col("exact_cnt"),
        col("rb.r").as("r"), col("rb.bkt").as("bkt"))
      .join(sketch, Seq("r", "bkt"))
      .groupBy(col("token"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_est")))
  }

  private val cmsRowsValues: String =
    CmsRows.map { case (i, a, b) => s"($i, $a, $b)" }.mkString(", ")

  val heavyHittersCmsOracle: String =
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
       |           FROM documents),
       |h AS (SELECT token,
       |             list_reduce(list_transform(string_split(token, ''),
       |                                        c -> CAST(ord(c) AS BIGINT)),
       |                         (a, b) -> (a * 31 + b) % 1000000007) AS ph
       |      FROM t),
       |r(i, a, b) AS (SELECT * FROM (VALUES $cmsRowsValues)),
       |sk AS (SELECT r.i, ((r.a * h.ph + r.b) % $CmsP) % $CmsW AS bkt,
       |              count(*) AS c
       |       FROM h CROSS JOIN r GROUP BY 1, 2),
       |ex AS (SELECT token, count(*) AS exact_cnt, min(ph) AS ph
       |       FROM h GROUP BY 1
       |       ORDER BY exact_cnt DESC, token LIMIT $CmsTopK),
       |q AS (SELECT e.token, e.exact_cnt, r.i,
       |             ((r.a * e.ph + r.b) % $CmsP) % $CmsW AS bkt
       |      FROM ex e CROSS JOIN r)
       |SELECT q.token, CAST(q.exact_cnt AS BIGINT) AS exact_cnt,
       |       CAST(min(sk.c) AS BIGINT) AS cms_est
       |FROM q JOIN sk ON q.i = sk.i AND q.bkt = sk.bkt
       |GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin

  /** `text_html_extract`: REAL HTML text extraction — the web-crawl
    * boilerplate strip. Each document is wrapped in deterministic HTML
    * (head with title/style/script raw-text blocks — the script body
    * contains `<`, quoted `"</p>"` and an unterminated-looking entity;
    * every 11th word entity-quoted, every 7th bold or wrapped in an
    * attribute-bearing anchor whose href holds `&amp;` and a `?`, every
    * 13th preceded by a comment containing tags), then the native
    * one-pass state machine ([[graft.functions.HtmlExtractText]]) takes
    * it back apart: tags stripped honoring quoted attributes, raw-text
    * and comment blocks dropped, entities decoded, whitespace
    * collapsed. The DuckDB oracle derives the expected text straight
    * from `text` (only the entity-quoted words change), so any state
    * machine defect — a script leak, a comment leak, an attribute `>`
    * split, a bad entity — breaks the hash on every row. Scale: one
    * scan-side projection, no shuffle, codegen-friendly static call. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val marked = transform(ws, (w, i) =>
      when(i % 11 === 3, concat(lit("&quot;"), w, lit("&quot;")))
        .otherwise(when(i % 7 === 2, concat(lit("<b>"), w, lit("</b>")))
          .otherwise(when(i % 7 === 5,
            concat(lit("<a href=\"https://x.example/q?a=1&amp;b=2\">"), w,
              lit("</a>")))
            .otherwise(when(i % 13 === 7,
              concat(lit("<!-- <p>junk&amp;</p> -->\n<span class=\"k\">"), w,
                lit("</span>")))
              .otherwise(w)))))
    val html = concat(
      lit("<html><head><title>drop this</title>" +
        "<style>p { color: #000; content: \"<never>\"; }</style>" +
        "<script>var x = \"</p>\"; if (x < 'y' && 1 > 0) { z = x; }</script>" +
        "</head>\n<body><p>"),
      array_join(marked, " "),
      lit("</p><hr/></body></html>"))
    (Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.HtmlFunctions.html_extract_text(html).as("text_out"))
      .select(col("doc_id"), col("text_out"),
        length(col("text_out")).cast("long").as("n_out")))
  }

  val htmlExtractOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id,
      |       array_to_string([CASE WHEN (i - 1) % 11 = 3
      |                             THEN '"' || ws[i] || '"'
      |                             ELSE ws[i] END
      |                        for i in range(1, len(ws) + 1)], ' ') AS text_out,
      |       length(array_to_string([CASE WHEN (i - 1) % 11 = 3
      |                                    THEN '"' || ws[i] || '"'
      |                                    ELSE ws[i] END
      |                               for i in range(1, len(ws) + 1)], ' '))
      |         AS n_out
      |FROM w ORDER BY 1, 2, 3""".stripMargin

  /** Document-frequency threshold for [[lineDedup]]: a line is
    * boilerplate when at least this many documents of the SAME source
    * contain it. At the correctness fixtures each source holds ≥ 25
    * docs, so the planted header/footer (every doc) and the every-3rd
    * line clear it while body lines mostly do not; at sf0.001's 2–3
    * docs per source nothing clears it — the operator still runs, a
    * no-op strip. */
  private val LineDedupDf = 5L

  /** Words per synthesized body line for [[lineDedup]]. */
  private val LineWords = 8

  /** Deterministic multi-line synthesis for [[lineDedup]] — the corpus
    * text is single-line, so (same discipline as the multimodal payloads
    * and [[htmlExtract]]'s wrapper) each doc is rebuilt as newline-
    * separated lines both engines derive identically from `text`:
    * a per-source subscribe header, the body in [[LineWords]]-word
    * chunks, a `follow` line in every 3rd doc (df ≈ n/3 — clears the
    * threshold only where sources are big enough), and a per-source
    * copyright footer. */
  private def lineDedupLines: Column = {
    val ws = split(col("text"), " ")
    val lastBody = floor((size(ws) - 1) / lit(LineWords)).cast("int")
    val body = transform(sequence(lit(0), lastBody), i =>
      array_join(slice(ws, i * LineWords + 1, lit(LineWords)), " "))
    concat(
      array(concat(lit("subscribe to "), col("source"), lit(" weekly"))),
      body,
      when(col("doc_id") % 3 === 0,
        array(concat(lit("follow "), col("source"), lit(" for more"))))
        .otherwise(array().cast("array<string>")),
      array(concat(lit("copyright "), col("source"))))
  }

  /** `text_line_dedup`: C4-style line-level boilerplate removal — strip
    * every line whose document frequency within its source reaches
    * [[LineDedupDf]] (the "subscribe / copyright / navigation" killer;
    * C4 and RefinedWeb both ship this pass). Two stages:
    *
    *   1. line DF: explode the synthesized lines and count DISTINCT
    *      docs per line key — the one corpus-sized shuffle, the same
    *      aggregation C4 runs, except the shuffle rows carry an 8-byte
    *      `xxhash64(source, line)` instead of the line string (~10× off
    *      the dominant cost at 100 TB; a typical line is 60–120 B). The
    *      tiny frequent-hash set then broadcast-resolves back to exact
    *      (source, line) strings on a second scan, with an exact df
    *      recount over just those candidates — so a 64-bit collision
    *      can only ever add a row to the structurally tiny recount,
    *      never a wrong line to the frequent set; the result is
    *      bit-identical to the unhashed aggregation. Frequent lines are
    *      BOILERPLATE, so the set is structurally tiny; a conf-capped
    *      `limit(max+1).collect()` (`spark.graft.linededup.maxFrequent`)
    *      guards the driver and fails with the conf key in the message
    *      rather than OOMing.
    *   2. strip: the frequent set rides into ONE scan-side native
    *      expression ([[graft.functions.StripFrequentLines]], exact
    *      string membership — no collisions to confirm away) that
    *      rebuilds each doc minus its frequent lines in one pass. No
    *      join, no shuffle on the output path; a 100 TB corpus pays
    *      stage 1's hash-keyed aggregation plus scans.
    *
    * Output: (doc_id, text_out, n_removed) — surviving lines re-joined
    * by `\n` in order; a fully-boilerplate doc yields the empty string. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupStrip(Tables.documents(spark, dir),
      lineDedupFrequentSet(spark, dir))

  /** Stage 1 of [[lineDedup]] — the conf-capped frequent-line set.
    * `private[graft]` so the streaming twin screens new documents
    * against the set built from the SAME static history, making
    * batch ≡ stream equality hold by construction. */
  private[graft] def lineDedupFrequentSet(spark: SparkSession,
      dir: String): java.util.HashSet[String] = {
    val maxFrequent = spark.conf.getOption("spark.graft.linededup.maxFrequent")
      .map { v =>
        val n = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.linededup.maxFrequent must be a long, got '$v'")
        }
        require(n >= 1 && n < Int.MaxValue,
          s"spark.graft.linededup.maxFrequent must be in [1, ${Int.MaxValue - 1}], got $n")
        n.toInt
      }.getOrElse(1000000)
    def lines = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), lineDedupLines.as("lines"))
      .select(col("source"), explode(col("lines")).as("line"), col("doc_id"))
    // corpus-sized DF count over 8-byte keys: the one full shuffle
    // carries (xxhash64(source, line), doc_id) rows, not line strings
    val freqHashes = lines
      .select(xxhash64(col("source"), col("line")).as("lh"), col("doc_id"))
      .groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= LineDedupDf)
      .select(col("lh"))
    // cap the hash-level candidate set BEFORE it broadcasts into the
    // resolve join: a corpus whose frequent-line set blows the cap must
    // fail with the conf key in the message, not with an opaque
    // broadcast-timeout / driver-OOM inside the join below. Collisions
    // can only ADD hash-level candidates, so the cap here is at most
    // a-few-collisions stricter than the exact cap re-checked after the
    // recount; the collected longs (8 B each, ≤ cap+1 rows) also become
    // the local relation the semi-join broadcasts, so the hash-keyed
    // aggregation runs exactly once.
    val freqHashRows = freqHashes.limit(maxFrequent + 1).collect()
    require(freqHashRows.length <= maxFrequent,
      s"frequent-line candidate set exceeds spark.graft.linededup." +
        s"maxFrequent=$maxFrequent — raise it or lower the threshold")
    val freqHashLocal = spark.createDataset(
      freqHashRows.map(_.getLong(0)).toSeq)(Encoders.scalaLong).toDF("lh")
    // resolve hashes → strings on a second scan (broadcast semi-join;
    // the frequent set is tiny), then recount df over the EXACT
    // (source, line) candidates: a hash collision can inflate only the
    // hash-level df, and any sub-threshold line it drags in dies here —
    // bit-identical to the unhashed aggregation, at ~1/10 the shuffle
    val frequent = lines
      .join(broadcast(freqHashLocal),
        xxhash64(col("source"), col("line")) === col("lh"), "left_semi")
      .groupBy(col("source"), col("line"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= LineDedupDf)
      .select(col("source"), col("line"))
      .limit(maxFrequent + 1)
      .collect()
    require(frequent.length <= maxFrequent,
      s"frequent-line set exceeds spark.graft.linededup.maxFrequent=" +
        s"$maxFrequent — raise it or lower the threshold")
    val set = new java.util.HashSet[String](math.max(16, frequent.length * 2))
    frequent.foreach(r => set.add(
      graft.functions.StripFrequentLines.key(r.getString(0), r.getString(1))))
    set
  }

  /** Stage 2 of [[lineDedup]] — the pure scan-side strip, shared with
    * the streaming twin (stateless, so it streams as a plain
    * projection). */
  private[graft] def lineDedupStrip(docs: DataFrame,
      set: java.util.HashSet[String]): DataFrame =
    (docs
      .select(col("doc_id"),
        graft.functions.StringFunctions.strip_frequent_lines(
          col("source"), array_join(lineDedupLines, "\n"), set).as("s"))
      .select(col("doc_id"), col("s.text_out").as("text_out"),
        col("s.n_removed").as("n_removed")))

  val lineDedupOracle: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
      |           FROM documents),
      |L AS (SELECT doc_id, source,
      |        ['subscribe to ' || source || ' weekly'] ||
      |        [array_to_string(ws[(i-1)*8+1 : (i-1)*8+8], ' ')
      |         for i in range(1, CAST(floor((len(ws) - 1) / 8) AS INT) + 2)] ||
      |        (CASE WHEN doc_id % 3 = 0
      |              THEN ['follow ' || source || ' for more'] ELSE [] END) ||
      |        ['copyright ' || source] AS lines
      |      FROM w),
      |E AS (SELECT doc_id, source, generate_subscripts(lines, 1) AS pos,
      |             unnest(lines) AS line FROM L),
      |F AS (SELECT source, line FROM E
      |      GROUP BY source, line HAVING count(DISTINCT doc_id) >= 5),
      |K AS (SELECT e.doc_id, e.pos, e.line
      |      FROM E e ANTI JOIN F f
      |        ON e.source = f.source AND e.line = f.line),
      |R AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_out,
      |             count(*) AS n_kept FROM K GROUP BY doc_id),
      |C AS (SELECT doc_id, count(*) AS n_total FROM E GROUP BY doc_id)
      |SELECT c.doc_id,
      |       coalesce(r.text_out, '') AS text_out,
      |       CAST(c.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
      |FROM C c LEFT JOIN R r USING (doc_id) ORDER BY 1, 2, 3""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_line_dedup" -> (lineDedup _),
    "text_html_extract" -> (htmlExtract _),
    "sketch_heavy_hitters" -> (heavyHittersCms _),
    "curate_mix_resample" -> (mixResample _),
    "text_tfidf_topk" -> (tfidfTopk _),
    "text_pii_mask" -> (piiMask _),
    "text_stats_by_source" -> (statsBySource _),
    "text_normalize" -> (normalize _),
    "text_repetition" -> (repetition _),
    "text_quality_rules" -> (qualityRules _),
    "text_inverted_index" -> (invertedIndex _),
    "text_inverted_index_capped" -> (invertedIndexCapped _),
    "text_vocab_stats" -> (vocabStats _),
    "text_decontaminate" -> (decontaminate _),
    "text_decontaminate_bloom" -> (decontaminateBloom _),
    "text_seq_pack" -> (seqPack _),
    "sketch_distinct_kmv" -> (distinctKmv _),
    "sketch_distinct_hll" -> (distinctHllProd _),
    "text_bigram_familiarity" -> (bigramFamiliarity _),
    "text_stratified_sample" -> (stratifiedSample _),
    "text_token_stats" -> (tokenStats _),
    "text_quality_score" -> (qualityScore _),
    "text_lang_id" -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_winnow" -> (winnow _),
    "text_winnow_matches" -> (winnowMatches _),
    "text_winnow_matches_capped" -> (winnowMatchesCapped _),
    "text_bpe_tokens" -> (bpeTokens _),
    "text_train_split" -> (trainSplit _),
    "text_top_quality_by_lang" -> (topQualityByLang _))

  val oracles: Map[String, String] = Map(
    "text_line_dedup" -> lineDedupOracle,
    "text_html_extract" -> htmlExtractOracle,
    "sketch_heavy_hitters" -> heavyHittersCmsOracle,
    "curate_mix_resample" -> mixResampleOracle,
    "text_tfidf_topk" -> tfidfTopkOracle,
    "text_pii_mask" -> piiMaskOracle,
    "text_stats_by_source" -> statsBySourceOracle,
    "text_normalize" -> normalizeOracle,
    "text_repetition" -> repetitionOracle,
    "text_quality_rules" -> qualityRulesOracle,
    "text_inverted_index" -> invertedIndexOracle,
    "text_inverted_index_capped" -> invertedIndexCappedOracle,
    "text_vocab_stats" -> vocabStatsOracle,
    "text_decontaminate" -> decontaminateOracle,
    // the bloom form must yield the EXACT same contamination counts —
    // the filter only prefilters, the exact-confirm join decides
    "text_decontaminate_bloom" -> decontaminateOracle,
    "text_seq_pack" -> seqPackOracle,
    "sketch_distinct_kmv" -> distinctKmvOracle,
    "sketch_distinct_hll" -> distinctHllOracle,
    "text_bigram_familiarity" -> bigramFamiliarityOracle,
    "text_stratified_sample" -> stratifiedSampleOracle,
    "text_token_stats" -> tokenStatsOracle,
    "text_quality_score" -> qualityScoreOracle,
    "text_lang_id" -> langIdOracle,
    "text_fingerprint" -> fingerprintOracle,
    "text_winnow" -> winnowOracle,
    "text_winnow_matches" -> winnowMatchesOracle,
    "text_winnow_matches_capped" -> winnowMatchesCappedOracle,
    "text_bpe_tokens" -> bpeTokensOracle,
    "text_train_split" -> trainSplitOracle,
    "text_top_quality_by_lang" -> topQualityByLangOracle)
}
