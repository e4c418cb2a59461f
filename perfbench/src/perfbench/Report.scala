package perfbench

import java.nio.file.Files

/** Turns a finished run into its result line: the end-to-end metrics
  * (untraced runs) or the per-layer metrics (traced runs). */
object Report {
  val Families: Seq[String] = Seq("q", "denorm", "costs", "text", "dedup", "sim",
    "events", "mm", "sketch", "pipeline")
  val FsKinds: Seq[String] = Seq("append", "delete", "maintain", "search")

  /** Workload-specific figures every workload supplies. Storage figures
    * are zero on workloads that keep no index. */
  final case class Extra(setupS: Double, quality: Double,
      indexFiles: Long = 0L, indexBytesPerLiveVec: Double = 0.0,
      writeAmp: Double = 0.0, info: Map[String, Any] = Map.empty)

  private def metric(v: Double, unit: String): Map[String, Any] =
    Map("value" -> v, "unit" -> unit)

  def line(h: Harness, x: Extra): String = {
    val rs = h.results.toVector
    require(rs.nonEmpty, "no timed op ran")
    val ok = rs.filter(_.ok)
    val failed = rs.length - ok.length
    val correct = !rs.exists(_.unexpected)
    val loopS = (rs.map(_.endNs).max - rs.map(_.startNs).min) / 1e9
    val lat = ok.map(_.wallS)
    def q(p: Double): Double = if (lat.isEmpty) 0.0 else Stats.quantile(lat, p)
    val endToEnd: Map[String, Any] = Map(
      "setup_s" -> metric(x.setupS, "s"),
      "ops_per_s" -> metric(ok.length / loopS, "1/s"),
      "op_geomean_s" -> metric(if (lat.isEmpty) 0.0
        else math.exp(lat.map(math.log).sum / lat.length), "s"),
      "op_p90_s" -> metric(q(0.9), "s"),
      "ok_frac" -> metric(ok.length.toDouble / rs.length, "ratio"),
      "quality" -> metric(x.quality, "ratio"))
    val metrics = if (!h.args.trace) endToEnd else layerMetrics(h, x, rs)
    val info = Map[String, Any](
      "workload" -> h.args.workload, "seed" -> h.args.seed, "cpus" -> h.args.cpus,
      "trace" -> h.args.trace, "spark" -> h.spark.version,
      "jdk" -> System.getProperty("java.version"),
      "attempted" -> rs.length, "failed" -> failed, "loop_s" -> loopS,
      "samples" -> lat.length, "op_p50_s" -> q(0.5),
      "op_median_s" -> ok.groupBy(_.name).map { case (k, v) => k -> Stats.median(v.map(_.wallS)) },
      "failed_ops" -> rs.filterNot(_.ok).groupBy(_.name).map { case (k, v) =>
        k -> v.length },
      "errors" -> rs.filter(_.err.nonEmpty).map(r => r.name -> r.err.get).toMap) ++
      h.args.info ++ x.info ++
      (if (h.args.trace) Map("end_to_end" -> endToEnd.map { case (k, v) =>
        k -> v.asInstanceOf[Map[String, Any]]("value") }) else Map.empty)
    System.out.println(Json.obj(Seq("info" -> info)))
    Json.obj(Seq("correct" -> correct, "attempted" -> rs.length,
      "failed" -> failed, "metrics" -> metrics))
  }

  private def layerMetrics(h: Harness, x: Extra, rs: Vector[OpResult]): Map[String, Any] = {
    // stopping the context drains the listener bus: every job, stage and
    // progress event of the run has been delivered after this
    val sched = h.sched.get
    val streamRecs = h.stream.get.recs
    val kernels = Kernels.nsPerRow(h.spark, h.args.seed)
    h.spark.stop()
    val jobs = sched.jobRecs.groupBy(_.op)
    val stages = sched.stageRecs.groupBy(_.op)
    final case class PerOp(r: OpResult, jobs: Int, stages: Int, tasks: Long,
        taskS: Double, cpuS: Double, shR: Long, shW: Long,
        spill: Long, input: Long, driverS: Double, schedS: Double)
    val per = rs.map { r =>
      val st = stages.getOrElse(r.id, Vector.empty)
      val covered = Spans.covered(st.map(s =>
        (math.max(h.spans.fromWallMs(s.submitMs), r.startNs),
          math.min(h.spans.fromWallMs(s.endMs), r.endNs)))
        .filter { case (a, b) => b > a })
      PerOp(r, jobs.getOrElse(r.id, Vector.empty).length, st.length,
        st.map(_.tasks.toLong).sum, st.map(_.taskS).sum, st.map(_.cpuS).sum,
        st.map(_.shuffleRead).sum, st.map(_.shuffleWrite).sum,
        st.map(_.spill).sum, st.map(_.input).sum,
        math.max(0L, r.endNs - r.startNs - covered) / 1e9, st.map(_.schedWaitS).sum)
    }
    def mean(f: PerOp => Double, of: Seq[PerOp] = per): Double =
      if (of.isEmpty) 0.0 else of.map(f).sum / of.length
    val planS = rs.map(r => h.plans.get(r.id).map(_._1).getOrElse(0.0))
    val m = Map.newBuilder[String, Any]
    def put(k: String, v: Double, unit: String): Unit = m += k -> metric(v, unit)
    put("operators.build_s", mean(_.r.buildS), "s")
    put("operators.exec_s", Stats.mean(rs.zip(planS).map { case (r, p) =>
      r.wallS - r.buildS - p }), "s")
    put("operators.jobs", mean(_.jobs), "count")
    put("operators.stages", mean(_.stages), "count")
    put("operators.tasks", mean(_.tasks.toDouble), "count")
    put("operators.task_s", mean(_.taskS), "s")
    put("operators.task_cpu_s", mean(_.cpuS), "s")
    put("operators.gc_s", Stats.mean(rs.map(r => h.gcMs.getOrElse(r.id, 0L) / 1e3)), "s")
    put("operators.shuffle_read_bytes", mean(_.shR.toDouble), "B")
    put("operators.shuffle_write_bytes", mean(_.shW.toDouble), "B")
    put("operators.spill_bytes", mean(_.spill.toDouble), "B")
    put("operators.input_bytes", mean(_.input.toDouble), "B")
    put("operators.driver_s", mean(_.driverS), "s")
    put("operators.sched_wait_s", mean(_.schedS), "s")
    Families.foreach { f =>
      val of = per.filter(_.r.family == f)
      put(s"operators.$f.jobs", mean(_.jobs, of), "count")
      put(s"operators.$f.shuffle_write_bytes", mean(_.shW.toDouble, of), "B")
    }
    val planned = rs.flatMap(r => h.plans.get(r.id))
    put("plans.plan_s", Stats.mean(planned.map(_._1)), "s")
    put("plans.exchanges", Stats.mean(planned.map(_._2.toDouble)), "count")
    FsKinds.foreach { k =>
      put(s"sources.fs_ops.$k", Stats.mean(rs.filter(_.kind == k)
        .map(r => h.fsOps.getOrElse(r.id, 0L).toDouble)), "count")
    }
    put("sources.index_files", x.indexFiles.toDouble, "count")
    put("sources.index_bytes_per_live_vec", x.indexBytesPerLiveVec, "B")
    put("sources.write_amp", x.writeAmp, "ratio")
    kernels.foreach { case (k, ns) => put(s"functions.$k.ns_per_row", ns, "ns") }
    val timed = rs.map(_.id).toSet
    val batches = streamRecs.filter(b => timed(b.op))
    put("streaming.batches", batches.length.toDouble, "count")
    put("streaming.input_rows", batches.map(_.inputRows).sum.toDouble, "count")
    put("streaming.state_rows", if (batches.isEmpty) 0.0 else batches.map(_.stateRows).max.toDouble, "count")
    put("streaming.state_bytes", if (batches.isEmpty) 0.0 else batches.map(_.stateBytes).max.toDouble, "B")
    writeTrace(h, x, per.map(p => (p.r, p.jobs, p.taskS, p.driverS, p.shW)), sched, batches)
    m.result()
  }

  /** Spans (op → build/plan/exec → Spark job → stage, and micro-batches)
    * and the per-layer self-time summary, written once at the end. */
  private def writeTrace(h: Harness, x: Extra,
      per: Vector[(OpResult, Int, Double, Double, Long)],
      sched: SchedulerCounters, batches: Vector[BatchRec]): Unit = {
    val timed = per.map(_._1.id).toSet
    val sp = new Spans(h.spans.all.filter(s => timed(s.op)), h.spans)
    val byOp = sp.all.groupBy(_.op)
    val roots = sp.all.filter(_.parent == 0L).map(s => s.op -> s).toMap
    def parentFor(op: Long, atNs: Long): Long = {
      val kids = byOp.getOrElse(op, Vector.empty).filter(s => s.parent != 0L)
      kids.find(s => s.startNs <= atNs && atNs <= s.endNs).map(_.id)
        .orElse(roots.get(op).map(_.id)).getOrElse(0L)
    }
    val stageSpan = scala.collection.mutable.Map.empty[Int, Long]
    sched.jobRecs.filter(j => roots.contains(j.op)).sortBy(_.jobId).foreach { j =>
      val id = sp.nextId()
      val t0 = sp.fromWallMs(j.startMs)
      sp.add(Span(id, parentFor(j.op, t0), j.op, s"job ${j.jobId}", "spark.job",
        t0, sp.fromWallMs(j.endMs)))
      j.stages.foreach(s => stageSpan.getOrElseUpdate(s, id))
    }
    sched.stageRecs.filter(s => roots.contains(s.op) && s.submitMs > 0).foreach { s =>
      sp.add(Span(sp.nextId(), stageSpan.getOrElse(s.stageId, 0L), s.op,
        s"stage ${s.stageId}.${s.attempt}", "spark.stage",
        sp.fromWallMs(s.submitMs), sp.fromWallMs(s.endMs)))
    }
    batches.foreach { b =>
      val t1 = sp.fromWallMs(b.endMs)
      val t0 = t1 - b.durations.getOrElse("triggerExecution", 0L) * 1000000L
      sp.add(Span(sp.nextId(), parentFor(b.op, t0), b.op, "micro-batch",
        "streaming", t0, t1))
    }
    val dir = java.nio.file.Paths.get(h.args.opts("traces"))
    Files.createDirectories(dir)
    val base = s"${h.args.workload}-${h.args.seed}"
    sp.writeJsonLines(dir.resolve(s"$base.spans.jsonl"))
    val fam = per.groupBy(_._1.family).map { case (f, ps) =>
      f -> Map("ops" -> ps.length, "task_s" -> Stats.mean(ps.map(_._3)),
        "driver_s" -> Stats.mean(ps.map(_._4)), "wall_s" -> Stats.mean(ps.map(_._1.wallS)))
    }
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L) / 1e3)
    val summary = Map[String, Any](
      "self_time_s" -> sp.selfTimeByLayer,
      "families" -> fam,
      "streaming" -> Map("add_batch_s" -> Stats.mean(dur("addBatch")),
        "get_batch_s" -> Stats.mean(dur("getBatch")),
        "wal_commit_s" -> Stats.mean(dur("walCommit")),
        "query_planning_s" -> Stats.mean(dur("queryPlanning")),
        "microbatch_p50_s" -> (if (batches.isEmpty) 0.0 else Stats.median(dur("triggerExecution")))),
      "info" -> x.info)
    Files.writeString(dir.resolve(s"$base.summary.json"), Json.value(summary) + "\n")
  }
}
