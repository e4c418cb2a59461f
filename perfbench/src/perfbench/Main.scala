package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of one benchmark run (see perfbench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, inputs: Path, fixtures: String, expected: Path, cpus: Int,
    info: Map[String, String], opts: Map[String, String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("inputs")),
      need("fixtures"), Paths.get(need("expected")), need("cpus").toInt,
      m.filter(_._1.startsWith("info.")).map { case (k, v) => k.drop(5) -> v }, m)
  }
}

/** The outcome of one timed op. A failed op (exception, or an output
  * check that did not hold) is never recorded as a timing. */
final case class OpResult(id: Long, name: String, kind: String, family: String,
    startNs: Long, endNs: Long, buildS: Double, ok: Boolean,
    oracle: Option[Boolean], unexpected: Boolean, err: Option[String]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** What the op body reports about its own output. `ok` — the output met
  * its expected value. `oracle` — for outputs with an independent oracle,
  * whether they matched it. `unexpected` — the output matched neither the
  * expected value nor a pinned, documented known deviation. */
final case class Verdict(ok: Boolean, oracle: Option[Boolean] = None,
    unexpected: Boolean = false, note: String = "")

object Verdict {
  val Pass: Verdict = Verdict(ok = true)
  def check(cond: Boolean, what: => String): Verdict =
    if (cond) Pass else Verdict(ok = false, unexpected = true, note = what)
}

/** One run: the Spark session, the op loop's bookkeeping, and (traced
  * runs only) the listeners and span store. */
final class Harness(val args: Args, val spark: SparkSession) {
  val spans = new Spans
  val sched: Option[SchedulerCounters] =
    if (args.trace) Some(new SchedulerCounters) else None
  private var currentOp = 0L
  val stream: Option[StreamCounters] =
    if (args.trace) Some(new StreamCounters(() => currentOp)) else None
  sched.foreach(spark.sparkContext.addSparkListener)
  stream.foreach(spark.streams.addListener)

  val results = mutable.ArrayBuffer.empty[OpResult]
  /** fs calls, bytes written through Hadoop's `file` scheme, and JVM GC
    * milliseconds, per op id (traced runs). */
  val fsOps = mutable.Map.empty[Long, Long]
  val fsBytes = mutable.Map.empty[Long, Long]
  val gcMs = mutable.Map.empty[Long, Long]
  /** plan time and exchange count per op id (traced runs). */
  val plans = mutable.Map.empty[Long, (Double, Int)]

  /** Op-scoped context handed to an op body: lets it time the build of
    * its DataFrame separately from execution, and record plan shape. */
  final class Op(val id: Long, rootSpan: Long) {
    var buildS = 0.0
    def span[A](name: String, layer: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(spans.nextId(), rootSpan, id, name, layer,
        t0, System.nanoTime()))
    }
    /** Time the registry/verb call that returns a DataFrame. */
    def build(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = span("build", "operators")(f)
      buildS += (System.nanoTime() - t0) / 1e9
      if (args.trace) plan(df)
      df
    }
    /** Traced runs: time executed-plan materialization and count its
      * exchanges (for an adaptive plan, those of its initial physical
      * plan). The plan is not reused by the execution, so this costs the
      * traced run extra planning work, which the overhead figure shows. */
    def plan(df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val p = span("plan", "plans")(df.queryExecution.executedPlan)
      val ex = p.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.length + p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.Exchange => e
          }.length
      }.sum
      val (s0, n0) = plans.getOrElse(id, (0.0, 0))
      plans(id) = (s0 + (System.nanoTime() - t0) / 1e9, n0 + ex)
    }
    def exec[A](f: => A): A = span("exec", "operators")(f)
  }

  private var opSeq = 0L

  /** Run one op in the closed loop: clear the DataFrame cache (as
    * graft.Bench does before every timed query), tag Spark jobs with the
    * op id, time it, record its verdict. `timed = false` marks warm-up
    * and set-up ops, which are not recorded. */
  def op(name: String, kind: String, family: String, timed: Boolean = true)(
      body: Op => Verdict): OpResult = {
    spark.catalog.clearCache()
    opSeq += 1
    val id = opSeq
    currentOp = id
    val root = spans.nextId()
    spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
    val fs0 = FsOps.total
    val b0 = if (args.trace) FsOps.bytesWritten else 0L
    val gc0 = if (args.trace) GcTime.ms else 0L
    val o = new Op(id, root)
    val t0 = System.nanoTime()
    val (v, err) =
      try (body(o), None)
      catch { case e: Throwable =>
        (Verdict(ok = false, unexpected = true),
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)))
      }
    val t1 = System.nanoTime()
    spark.sparkContext.setLocalProperty("perfbench.op", null)
    currentOp = 0L
    if (args.trace) {
      fsOps(id) = FsOps.total - fs0
      fsBytes(id) = FsOps.bytesWritten - b0
      gcMs(id) = GcTime.ms - gc0
      spans.add(Span(root, 0L, id, name, "client", t0, t1))
    }
    val r = OpResult(id, name, kind, family, t0, t1, o.buildS, v.ok, v.oracle,
      v.unexpected, err.orElse(if (v.ok) None else Some(v.note)))
    if (timed) results += r
    if (!v.ok) System.err.println(s"[perfbench] op $name failed: ${r.err.getOrElse("")}")
    r
  }

  /** Seconds since `t0Ns`. */
  def since(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9
}

object Main {
  def session(a: Args, tag: String): SparkSession = {
    // production configuration, as graft.Bench builds it
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-$tag")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKPlanning.register(spark)
    if (a.trace) {
      // drop any local FileSystem cached before the counting one was set
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
    spark
  }

  /** A fresh session, timed: the session part of set-up. */
  def timedSession(a: Args, tag: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = session(a, tag)
    s.range(1).count() // first job: executor and codegen start-up
    (s, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val w: Workload = a.workload match {
      case "registry_sf0.1" => RegistryWorkload
      case "index_rw" => IndexRwWorkload
      case "pin" => PinMain
      case other => sys.error(s"unknown workload '$other'")
    }
    val out = w.run(a)
    println(out)
  }
}

/** A workload returns its one-line result. */
trait Workload {
  def run(a: Args): String
}
