package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `op` is the id of the root span it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long)

/** In-memory span store, written out once when the run ends. Spans from
  * the benchmark's own calls use the monotonic clock; Spark job, stage
  * and micro-batch spans carry wall-clock milliseconds converted onto the
  * same clock through one offset taken at start. */
final class Spans private (init: Seq[Span], private val ids: AtomicLong,
    private val wallOffsetNs: Long) {
  def this() = this(Nil, new AtomicLong(0),
    System.nanoTime() - System.currentTimeMillis() * 1000000L)
  /** A store holding `spans`, sharing `of`'s id sequence and clock. */
  def this(spans: Seq[Span], of: Spans) = this(spans, of.ids, of.wallOffsetNs)
  private val buf = mutable.ArrayBuffer.from(init)
  def nextId(): Long = ids.incrementAndGet()
  def fromWallMs(ms: Long): Long = ms * 1000000L + wallOffsetNs
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Vector[Span] = synchronized { buf.toVector }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)) += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }

  /** Self time per layer: each span's duration minus the part its
    * children cover (children are clipped to the parent's interval). */
  def selfTimeByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer) { s =>
      val covered = Spans.covered(kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      math.max(0L, s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

}

object Spans {
  /** Length of the union of `[a, b)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = 0L
    var curB = 0L
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

/** Per-stage record from Spark's public listener API. */
final case class StageRec(stageId: Int, attempt: Int, op: Long, submitMs: Long,
    endMs: Long, tasks: Int, taskS: Double, cpuS: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
    schedWaitS: Double)

final case class JobRec(jobId: Int, op: Long, startMs: Long, endMs: Long,
    stages: Seq[Int])

/** Spark scheduler listener: jobs and stages, each tagged with the op id
  * the benchmark set as a local property before the op ran (local
  * properties are inherited by the broadcast/subquery threads Spark
  * spawns, so those jobs attribute to the right op too). */
final class SchedulerCounters extends SparkListener {
  val OpKey = "perfbench.op"
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val taskSched = mutable.Map.empty[(Int, Int), Double]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = JobRec(e.jobId, op, e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => stageOp(s) = op)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null) {
      // the Spark UI's scheduler delay: task wall outside run,
      // deserialization, result serialization and result fetch
      val d = (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      val k = (e.stageId, e.stageAttemptId)
      taskSched(k) = taskSched.getOrElse(k, 0.0) + math.max(0L, d) / 1e3
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val k = (i.stageId, i.attemptNumber())
    stages += StageRec(i.stageId, i.attemptNumber(), stageOp.getOrElse(i.stageId, 0L),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      taskSched.remove(k).getOrElse(0.0))
  }
  def jobRecs: Vector[JobRec] = synchronized { jobs.values.toVector }
  def stageRecs: Vector[StageRec] = synchronized { stages.toVector }
}

/** One micro-batch's progress from the public StreamingQueryListener. */
final case class BatchRec(op: Long, endMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateBytes: Long)

final class StreamCounters(currentOp: () => Long) extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches += BatchRec(currentOp(),
      java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L),
      d, p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }
  def recs: Vector[BatchRec] = synchronized { batches.toVector }
}

/** Counts Hadoop FileSystem calls on `file://` paths. Registered from the
  * benchmark by scheme (`spark.hadoop.fs.file.impl`) in traced runs only;
  * it changes no behaviour, it counts and delegates. */
class CountingLocalFs extends LocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = { FsOps.hit(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { FsOps.hit(); super.listStatus(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { FsOps.hit(); super.mkdirs(f, p) }
  override def rename(s: Path, d: Path): Boolean = { FsOps.hit(); super.rename(s, d) }
  override def delete(f: Path, r: Boolean): Boolean = { FsOps.hit(); super.delete(f, r) }
  override def open(f: Path, b: Int): FSDataInputStream = { FsOps.hit(); super.open(f, b) }
  override def create(f: Path, p: FsPermission, o: Boolean, b: Int, r: Short,
      bs: Long, pr: Progressable): FSDataOutputStream = {
    FsOps.hit(); super.create(f, p, o, b, r, bs, pr)
  }
}

/** JVM-wide garbage-collection time; in `local` mode the executors share
  * the driver's JVM, so this covers task and driver collections alike. */
object GcTime {
  def ms: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

object FsOps {
  private val n = new AtomicLong(0)
  def hit(): Unit = n.incrementAndGet()
  def total: Long = n.get()
  /** Bytes written through Hadoop's `file` scheme statistics. */
  def bytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}
