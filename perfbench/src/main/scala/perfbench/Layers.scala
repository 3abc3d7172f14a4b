package perfbench

import scala.jdk.CollectionConverters._

/** Totals of the Spark work in a set of job groups. */
final case class GroupSum(jobs: Double, stages: Double, tasks: Double,
                          jobMs: Double, runMs: Double, cpuMs: Double,
                          gcMs: Double, input: Double, output: Double,
                          shuffleWrite: Double,
                          shuffleRead: Double, spill: Double)

/** Per-layer metrics every workload reports in its traced run: the Spark
  * execution layer and the driver around it, per benchmark operation (a
  * catalog query or a GraphQL request). */
object Layers {
  def sumGroups(rec: Recorder, keep: String => Boolean): GroupSum = {
    val gs = rec.groups.asScala.collect { case (g, s) if keep(g) => s }
    def l(f: GroupStats => java.util.concurrent.atomic.LongAdder) =
      gs.map(f(_).sum).sum.toDouble
    def d(f: GroupStats => java.util.concurrent.atomic.DoubleAdder) =
      gs.map(f(_).sum).sum
    GroupSum(l(_.jobs), l(_.stages), l(_.tasks), d(_.jobMs), d(_.runMs),
      d(_.cpuMs), d(_.gcMs), l(_.inputBytes), l(_.outputBytes),
      l(_.shuffleWriteBytes),
      l(_.shuffleReadBytes), l(_.spillBytes))
  }

  /** Operations given as (job group, wall ms), one entry per run of an
    * operation; their jobs are in the groups `keep`; `gcMs` is the JVM's
    * collection time over them. */
  def common(out: Outcome, rec: Recorder, keep: String => Boolean,
             ops: Seq[(String, Double)], gcMs: Double): Unit = {
    val g = sumGroups(rec, keep)
    val n = math.max(1, ops.size).toDouble
    // per group, so that concurrent operations' jobs do not overlap
    val driverMs = ops.groupBy(_._1).map { case (grp, ws) =>
      ws.map(_._2).sum - rec.jobWallMs(_ == grp) }.sum
    out.layers("spark.jobs_per_op") = (g.jobs / n, "count")
    out.layers("spark.stages_per_op") = (g.stages / n, "count")
    out.layers("spark.tasks_per_op") = (g.tasks / n, "count")
    out.layers("spark.job_ms_per_op") = (g.jobMs / n, "ms")
    out.layers("spark.exec_run_ms_per_op") = (g.runMs / n, "ms")
    out.layers("spark.exec_cpu_ms_per_op") = (g.cpuMs / n, "ms")
    out.layers("spark.scan_kb_per_op") = (g.input / 1024 / n, "KB")
    out.layers("spark.shuffle_write_kb_per_op") =
      (g.shuffleWrite / 1024 / n, "KB")
    val (planMs, actions) = rec.planMs(keep)
    out.layers("sql.plan_ms_per_action") =
      (planMs / math.max(1L, actions), "ms")
    out.layers("driver.self_ms_per_op") = (driverMs / n, "ms")
    out.layers("jvm.gc_ms_per_op") = (gcMs / n, "ms")
    out.detail.put("spill_kb_per_op", g.spill / 1024 / n)
      .put("shuffle_read_kb_per_op", g.shuffleRead / 1024 / n)
    val self = out.detail.putObject("span_self_ms_p50")
    rec.selfMs(keep).toSeq.sortBy(_._1).foreach { case (name, ms) =>
      self.put(name, Stats.median(ms)) }
  }
}
