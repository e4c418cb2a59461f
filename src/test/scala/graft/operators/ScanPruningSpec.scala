package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pushdown/pruning audits on the PHYSICAL plan: filters must reach the
  * parquet scan as PushedFilters and projections must prune ReadSchema to
  * the referenced columns — at 100 TB these decide whether a query reads
  * gigabytes or the whole corpus (row-group skipping + columnar IO). */
class ScanPruningSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2 brand filter is pushed down to the part scan") {
    val p = plan(Relational.q2BrandFilter(spark, dir))
    assert(p.contains("PushedFilters:") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(p_brand[^\\]]*\\].*"), p)
  }

  test("text queries prune the documents scan to the referenced columns") {
    // tokenStats touches only (doc_id, text) of the 5-column table
    val p = plan(TextAnalysis.tokenStats(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    // trainSplit likewise
    val p2 = plan(TextAnalysis.trainSplit(spark, dir))
    assert(p2.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p2)
  }

  test("q5 join scans read only the joined/projected columns") {
    // inspect the scans programmatically — the rendered plan truncates
    // long ReadSchema strings, so string matching would misread them
    val scans = Relational.q5OrdersBrandClientJoin(spark, dir)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSeq
      }
    assert(scans.size == 4, scans.toString)
    // lineitem (16 cols) must be cut to the 4 projected + 1 filter col;
    // no scan may exceed its referenced-column set
    assert(scans.exists(_.sorted == Seq("l_linenumber", "l_orderkey",
      "l_partkey", "l_quantity", "l_shipdate")), scans.toString)
    scans.foreach(s => assert(s.length <= 5, s.toString))
  }

  test("embeddings ANN scans prune to (vec_id, embedding)") {
    val p = plan(Similarity.annLshProd(spark, dir))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("round-6 curation queries prune their scans to the referenced columns") {
    // decontaminate and seqPack touch only (doc_id, text); the KMV sketch
    // only (lang, text); bigram familiarity only (doc_id, text) — at
    // 100 TB this is the difference between reading two columns and five
    def scanSchemas(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSeq.sorted
      }
    // decontaminate's eval-side scan prunes even doc_id away (text only)
    for (s <- scanSchemas(TextAnalysis.decontaminate(spark, dir)))
      assert(s.nonEmpty && s.toSet.subsetOf(Set("doc_id", "text")), s.toString)
    for (s <- scanSchemas(TextAnalysis.seqPack(spark, dir)))
      assert(s == Seq("doc_id", "text"), s.toString)
    for (s <- scanSchemas(TextAnalysis.distinctKmv(spark, dir)))
      assert(s == Seq("lang", "text"), s.toString)
    // bigram familiarity's model-build scan prunes doc_id away (text only)
    for (s <- scanSchemas(TextAnalysis.bigramFamiliarity(spark, dir)))
      assert(s.nonEmpty && s.toSet.subsetOf(Set("doc_id", "text")), s.toString)
    // the z-order key reads only the three event columns it emits from
    for (s <- scanSchemas(Events.zorderKey(spark, dir)))
      assert(s == Seq("event_id", "ts", "user_id"), s.toString)
  }
}
