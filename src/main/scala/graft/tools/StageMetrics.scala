package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only: the tools' one stage-metrics listener. Sums every
  * completed stage's task metrics over the session; a caller takes a
  * [[StageMetrics.Counts]] snapshot before a piece of work and
  * subtracts it from one taken after, which splits that work's wall
  * into executor run / CPU / GC time, shuffle bytes and stage and
  * task counts. */
final class StageMetrics extends SparkListener {
  import StageMetrics.Counts

  private var total = Counts()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val tm = sc.stageInfo.taskMetrics
    if (tm != null) synchronized {
      total = total + Counts(
        shuffleReadBytes = tm.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = tm.shuffleWriteMetrics.bytesWritten,
        execRunMs = tm.executorRunTime,
        execCpuNs = tm.executorCpuTime,
        gcMs = tm.jvmGCTime,
        stages = 1,
        tasks = sc.stageInfo.numTasks)
    }
  }

  def snapshot(): Counts = synchronized(total)
}

object StageMetrics {
  final case class Counts(shuffleReadBytes: Long = 0,
                          shuffleWriteBytes: Long = 0,
                          execRunMs: Long = 0, execCpuNs: Long = 0,
                          gcMs: Long = 0, stages: Long = 0,
                          tasks: Long = 0) {
    private def zip(o: Counts)(f: (Long, Long) => Long): Counts = Counts(
      f(shuffleReadBytes, o.shuffleReadBytes),
      f(shuffleWriteBytes, o.shuffleWriteBytes),
      f(execRunMs, o.execRunMs), f(execCpuNs, o.execCpuNs),
      f(gcMs, o.gcMs), f(stages, o.stages), f(tasks, o.tasks))
    def +(o: Counts): Counts = zip(o)(_ + _)
    def -(o: Counts): Counts = zip(o)(_ - _)
  }

  /** A listener registered on `spark`'s context. */
  def attach(spark: SparkSession): StageMetrics = {
    val l = new StageMetrics
    spark.sparkContext.addSparkListener(l)
    l
  }
}
