package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Splits a traced operation into the per-layer metrics. */
object Layers {

  private def descendants(trace: Trace, root: Long): Seq[Span] = {
    val children = trace.allSpans.groupBy(_.parent)
    def go(id: Long): Seq[Span] =
      children.getOrElse(id, Nil).flatMap(s => s +: (if (s.kind == "call") go(s.id) else Nil))
    go(root)
  }

  /** A call's self time: its span minus the part its child spans (jobs included) cover. */
  private def selfMs(trace: Trace, s: Span): Double =
    s.dur - Trace.covered(descendants(trace, s.id).filter(_.parent == s.id).map(c => c.start -> c.end),
      s.start, s.end)

  /** MB of blocks the block manager holds (cached inputs, local checkpoints). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Per-layer metrics of one traced operation span, plus `self.<call>` self times. */
  def perOp(trace: Trace, op: Span, cores: Int, gcS: Double, storage: Double): Map[String, Double] = {
    val desc = descendants(trace, op.id)
    val calls = desc.filter(s => s.kind == "call" && Main.Calls.contains(s.name))
    val jobSpans = desc.filter(_.kind == "job")
    val jobs = jobSpans.flatMap(s => Option(trace.jobs.get((-s.id - 1).toInt)))
    val stages = jobs.flatMap(_.stages).distinct.flatMap(id => Option(trace.stages.get(id)))
    def total(f: StageAgg => Long) = stages.map(f).sum.toDouble
    val phases = trace.phases.asScala.toSeq.filter(p => p.at >= op.start && p.at <= op.end)
    val wallS = op.dur / 1e3
    val taskRunS = total(_.runMs) / 1e3
    val mb = 1048576.0
    val callTimes = Main.Calls.map(c => s"${c}_s" -> calls.filter(_.name == c).map(_.dur).sum / 1e3)
    val selfTimes = calls.groupBy(_.name).map { case (c, ss) => s"self.$c" -> ss.map(selfMs(trace, _)).sum / 1e3 }
    val fitJobs = calls.filter(_.name == "prep.fit")
      .map(f => descendants(trace, f.id).count(_.kind == "job")).sum.toDouble
    (callTimes ++ selfTimes ++ Seq(
      "prep.fit_jobs" -> fitJobs,
      "graft.self_s" -> calls.map(selfMs(trace, _)).sum / 1e3,
      "catalyst.analysis_s" -> phases.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> phases.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> phases.map(_.planningMs).sum / 1e3,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.count(_.tasks > 0).toDouble,
      "spark.tasks" -> total(_.tasks),
      "spark.driver_gap_s" ->
        (op.dur - Trace.covered(jobSpans.map(j => j.start -> j.end), op.start, op.end)) / 1e3,
      "spark.task_run_s" -> taskRunS,
      "spark.task_cpu_s" -> total(_.cpuNs) / 1e9,
      "spark.task_busy_ratio" -> taskRunS / (wallS * cores),
      "spark.shuffle_read_mb" -> total(_.shuffleRead) / mb,
      "spark.shuffle_write_mb" -> total(_.shuffleWrite) / mb,
      "spark.spill_mb" -> total(_.spill) / mb,
      "spark.storage_mb" -> storage,
      "spark.tasks_failed" -> total(_.tasksFailed),
      "spark.jobs_failed" -> jobs.count(!_.ok).toDouble,
      "jvm.gc_s" -> gcS)).toMap
  }

  /** Graft calls made during setup (the serving model's fit): time and jobs. */
  def setupCalls(trace: Trace): Map[String, Double] =
    trace.spans.find(_.name == "setup").toSeq.flatMap { setup =>
      descendants(trace, setup.id).filter(s => s.kind == "call" && Main.Calls.contains(s.name)).flatMap { s =>
        Seq(s"${s.name}_s" -> s.dur / 1e3) ++
          (if (s.name == "prep.fit") Seq("prep.fit_jobs" -> descendants(trace, s.id).count(_.kind == "job").toDouble)
           else Nil)
      }
    }.toMap
}
