package graft

import java.io.File

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB correctness gate, in tier-1: every registry row with an
  * oracle SQL is dumped through [[Verify.dump]] at the sf0.001 fixture
  * and compared by `tools/local_verify.py` — the same comparator (and
  * comparison rules: raw-column sort, nested-value rejection) the
  * sf0.01 gate runs, so the JVM side never grows a second one. The rows
  * are the forms the production registry runs, except the three
  * by-design overrides (`SparkEntry.productionOverrides`).
  *
  * Missing `python3`, `duckdb` or `pandas` FAILS the suite: a gate that
  * cancels itself when its tools are absent is a gate that silently
  * stops gating. */
class OracleGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val outDir = new File("target/oracle_gate").getAbsoluteFile

  /** Run `python3 args…` from the repo root; exit code + merged output. */
  private def python(args: String*): (Int, String) = {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val code =
      try Process("python3" +: args).!(log)
      catch { case e: java.io.IOException =>
        fail(s"python3 is not runnable — the oracle gate needs it: $e")
      }
    (code, out.toString)
  }

  private def requireComparatorDeps(): Unit = {
    val (code, out) = python("-c", "import duckdb, pandas")
    assert(code == 0,
      s"the oracle gate needs python3 with duckdb and pandas:\n$out")
  }

  test("the comparator's parity self-test passes") {
    requireComparatorDeps()
    val (code, out) = python("tools/local_verify.py", "--selftest")
    assert(code == 0, s"local_verify.py --selftest failed:\n$out")
  }

  test("every oracle-gated registry row hash-matches DuckDB at sf0.001") {
    requireComparatorDeps()
    graft.streaming.StreamingStaging.deleteRecursively(outDir.toPath)
    // the dump registers the top-k planning extension on the session;
    // leave the shared session as this suite found it
    val hadTopK = spark.experimental.extraStrategies
      .contains(graft.plans.TopKStrategy)
    try Verify.dump(spark, TestSpark.sfDir, outDir.toString,
      SparkEntry.oracleSql.keySet)
    finally if (!hadTopK) graft.plans.TopKPlanning.unregister(spark)
    val (code, out) = python("tools/local_verify.py", TestSpark.sfDir,
      outDir.toString)
    assert(code == 0, s"DuckDB oracle gate failed:\n$out")
    assert(out.contains("ALL GREEN"), out)
  }
}
