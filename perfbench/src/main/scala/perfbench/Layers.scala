package perfbench

import scala.jdk.CollectionConverters._

/** Reduces the listener records of the traced operations to per-layer
  * figures (each a mean per operation unless named otherwise) and adds
  * the Catalyst phases and Spark jobs to the trace as child spans of the
  * layer call that started them.
  */
object Layers {
  import Probe._

  def reduce(probe: Probe, rec: Recorder, ops: Seq[OpRec], cores: Int): Map[String, Double] = {
    val ids = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val spans = rec.spanList.filter(s => ids(s.op)).groupBy(_.op)

    /** The span of the layer call that was running at `t`. */
    def parentSpan(o: Owner, t: Double): Int = {
      val mine = spans.getOrElse(o.op, Nil)
      mine.find(s => s.name == o.phase && s.startMs <= t && t <= s.endMs)
        .orElse(mine.find(_.name == "op")).map(_.id).getOrElse(-1)
    }

    val jobs = probe.jobs.asScala.toSeq.filter(j => ids(j._1.op))
    var execMs = 0.0
    for ((o, job, start) <- jobs; end <- probe.jobEndMs.get(job)) {
      execMs += end - start
      rec.addSpan(parentSpan(o, start.toDouble), o.op, "exec.job", start.toDouble, end.toDouble)
    }
    val constructJobs = jobs.count(j => j._1.phase == "ops.construct")
    val updateJobs = jobs.count(j => j._1.phase == "whisper.update")

    val plans = probe.plans.asScala.toSeq.flatMap(p => probe.planOwner(p).filter(o => ids(o.op)).map(p -> _))
    val phaseMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for ((p, o) <- plans; (name, (s, e)) <- p.phases) {
      phaseMs(name) += e - s
      rec.addSpan(parentSpan(o, s.toDouble), o.op, s"plan.$name", s.toDouble, e.toDouble)
    }
    val probes = probe.aggValues(plans.flatMap(_._1.probeIds).toSet)
    val peakByOp = plans.groupBy(_._2.op).values.map { ps =>
      val v = probe.aggValues(ps.flatMap(_._1.peakIds).toSet)
      if (v.isEmpty) 0L else v.max
    }

    val tasks = probe.tasks.asScala.toSeq.filter(t => ids(t.owner.op))
    val skew = tasks.groupBy(_.owner.op).values.map { ts =>
      val worst = ts.groupBy(_.stage).values.filter(_.size > 1).map { st =>
        val run = st.map(_.runMs.toDouble).sorted
        val med = run(run.size / 2)
        if (med > 0) run.last / med else 1.0
      }
      if (worst.isEmpty) 1.0 else worst.max
    }
    val opWallMs = ops.map(o => o.endMs - o.startMs).sum
    def per(f: TaskRec => Long): Double = tasks.map(f).sum / n

    Map(
      "exec.ms" -> execMs / n,
      "exec.jobs" -> jobs.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.cpu_ms" -> per(_.cpuMs),
      "exec.gc_ms" -> per(_.gcMs),
      "exec.task_wait_ms" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.waitMs).sum.toDouble / tasks.size),
      "exec.slot_util" -> (if (opWallMs > 0) tasks.map(_.runMs).sum / (opWallMs * cores) else 0.0),
      "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.sum / skew.size),
      "exec.shuffle_write_bytes" -> per(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> per(_.shuffleRead),
      "exec.spill_bytes" -> per(_.spill),
      "exec.input_bytes" -> per(_.input),
      "exec.output_bytes" -> per(_.output),
      "ops.construct_jobs" -> constructJobs / n,
      "whisper.update_jobs" -> updateJobs / n,
      "plan.analysis_ms" -> phaseMs("analysis") / n,
      "plan.optimization_ms" -> phaseMs("optimization") / n,
      "plan.planning_ms" -> phaseMs("planning") / n,
      // HashAggregateExec reports its average scaled by 10
      "agg.hash_probe_avg" -> (if (probes.isEmpty) 0.0 else probes.sum / 10.0 / probes.size),
      "agg.peak_mem_bytes" -> peakByOp.sum / n)
  }
}
